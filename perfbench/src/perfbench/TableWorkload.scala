package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.Snapshots
import graft.streaming.ChangeFeed

final case class Order(cust: Long, status: String, price: Double, day: Int)

/** One round of the commit stream: an upsert merge, a vectored delete,
  * a head range read of [lo, hi) and a time-travel read two commits back. */
final case class Round(upserts: Seq[(Long, Order)], deletes: Seq[Long], lo: Long, hi: Long)

/** The generated table and its commit stream, with the model state after
  * every committed version (index = version; version 1 is the publish). */
final case class ChurnPlan(rounds: Seq[Round], models: IndexedSeq[Map[Long, Order]],
                           upsertDfs: Seq[DataFrame], deleteDfs: Seq[DataFrame])

/** The table format under a commit stream. An orders table is published
  * fresh each pass, then each round merges upserts (80% of keys from the
  * newest decile of the key range), deletes with deletion vectors, reads
  * a head key range and an earlier version, and lets a replica catch up
  * through the change feed (`maxVersionsPerBatch = 1`, applied with
  * `Snapshots.mergeBatch`). The pass ends with `compact`.
  *
  * `live = true` is the cdc_live variant: the replica's streaming query
  * runs for the whole pass while the commits land (each commit waits
  * until the replica holds the previous one), and drains once at the
  * end. */
final class TableWorkload(live: Boolean) extends Workload {
  val name: String = if (live) "cdc_live" else "table_churn"
  private val plans = collection.mutable.Map[String, ChurnPlan]()
  private val Key = "o_orderkey"
  private val BucketWidth = 1024L
  /** cdc_live runs at the sf0.1 orders size, where manifests are large
    * enough for a polling reader to catch one mid-write */
  private val (tableRows, rounds) = if (live) (150000, 4) else (5000, 1)
  private val (upserts, deletes) = (100, 30)
  private val Epoch = LocalDate.of(1992, 1, 1)

  private val schema = StructType(Seq(
    StructField(Key, LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("bucket", LongType, nullable = false)))

  private def row(k: Long, o: Order): Row =
    Row(k, o.cust, o.status, o.price, Epoch.plusDays(o.day), k / BucketWidth)

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def generate(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val rnd = new SplittableRandom(seed)
    def order(): Order = Order(1 + rnd.nextLong(tableRows / 10 + 1), Seq("F", "O", "P")(rnd.nextInt(3)),
      (100000 + rnd.nextLong(50000000)) / 100.0, rnd.nextInt(2500))
    val initial = (1L to tableRows).map(k => k -> order()).toMap
    val md = MessageDigest.getInstance("SHA-256")
    def digest(k: Long, o: Order): Unit = md.update(s"$k,${o.cust},${o.status},${o.price},${o.day}\n".getBytes)
    (1L to tableRows).foreach(k => digest(k, initial(k)))
    frame(spark, (1L to tableRows).map(k => row(k, initial(k))))
      .repartition(4).write.mode("overwrite").parquet(s"$dir/orders")

    val models = collection.mutable.ArrayBuffer(Map.empty[Long, Order], initial)
    var hi = tableRows.toLong
    val plan = (0 until rounds).map { _ =>
      val m = models.last
      val decile = hi - hi / 10
      val fresh = upserts / 5
      def distinct(k: Int, draw: => Long): Seq[Long] = {
        val s = collection.mutable.LinkedHashSet[Long]()
        while (s.size < k) s += draw
        s.toSeq
      }
      // 80% of the keys from the newest decile (with `fresh` inserts above
      // the current top), 20% from the rest
      val keys = distinct(upserts * 8 / 10, decile + rnd.nextLong(hi - decile + fresh) + 1) ++
        distinct(upserts - upserts * 8 / 10, 1 + rnd.nextLong(decile))
      val ups = keys.distinct.map(k => k -> order())
      hi = math.max(hi, keys.max)
      val merged = m ++ ups
      val present = merged.keys.toArray.sorted
      val dels = distinct(deletes, present(rnd.nextInt(present.length)))
      models += merged
      models += merged -- dels
      val width = math.max(1L, hi / 50)
      val lo = 1 + rnd.nextLong(hi)
      ups.foreach { case (k, o) => digest(k, o) }
      dels.foreach(k => md.update(s"-$k\n".getBytes))
      md.update(s"[$lo,${lo + width})\n".getBytes)
      Round(ups, dels, lo, lo + width)
    }
    plans(dir) = ChurnPlan(plan, models.toIndexedSeq,
      plan.map(r => frame(spark, r.upserts.map { case (k, o) => row(k, o) })),
      plan.map(r => spark.createDataFrame(r.deletes.map(k => Row(k, k / BucketWidth)).asJava,
        StructType(schema.filter(f => f.name == Key || f.name == "bucket")))))
    Inputs(dir, md.digest().map("%02x".format(_)).mkString,
      Map("rows" -> tableRows, "rounds" -> rounds, "upserts_per_round" -> upserts,
        "deletes_per_round" -> deletes, "bucket_width" -> BucketWidth,
        "replica" -> (if (live) "live stream" else "catch-up per round")))
  }

  private def toModel(rows: Array[Row]): Map[Long, Order] =
    rows.map(r => r.getLong(0) -> Order(r.getLong(1), r.getString(2), r.getDouble(3),
      (r.getAs[LocalDate](4).toEpochDay - Epoch.toEpochDay).toInt)).toMap

  private def fold(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col(Key)), lit(0L)),
      coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def modelFold(m: Iterable[(Long, Order)]): (Long, Long, Long) =
    (m.size.toLong, m.map(_._1).sum, m.map(o => math.round(o._2.price * 100)).sum)

  private def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map((p: Path) => Files.size(p)).sum
    finally s.close()
  }

  def pass(ctx: Ctx, in: Inputs): Unit = {
    val spark = ctx.spark
    val plan = plans(in.dir)
    val base = s"${ctx.work}/tables/${name}-${ctx.tracer.pass}"
    val (src, rep, ckpt) = (s"$base/src", s"$base/replica", s"$base/checkpoint")
    ctx.untimed(Snapshots.dropPath(spark, base))
    // commit-return time of every source version, for the replica lag
    val committed = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    var rowBytes = 0.0 // bytes per row of the published table (traced passes)
    def commit(name: String, rows: Long)(body: => Long): Long = {
      val before = if (ctx.traced) ctx.untimed(dirBytes(src)) else 0L
      val v = ctx.op(name)(body)
      committed.put(v, ctx.tracer.now())
      if (ctx.traced) ctx.untimed {
        val added = Snapshots.files(spark, src, v).toSet -- Snapshots.files(spark, src, v - 1)
        ctx.sample("Snapshots.files_written", added.size.toDouble)
        ctx.sample("Snapshots.write_amp", (dirBytes(src) - before) / (rows * rowBytes))
      }
      v
    }

    val consumer = new Consumer(ctx, src, rep, ckpt, committed)
    var query: Option[StreamingQuery] = None
    try {
      val v1 = ctx.op("Snapshots.publish") {
        Snapshots.publish(spark.read.parquet(s"${in.dir}/orders"), src, "bucket", Seq(Key),
          statsCols = Seq(Key))
      }
      committed.put(v1, ctx.tracer.now())
      if (ctx.traced) rowBytes = ctx.untimed(dirBytes(src).toDouble / plan.models(1).size)
      ctx.check("Snapshots.publish_version", v1 == 1L, s"publish committed version $v1")
      if (live) query = Some(ctx.op("ChangeFeed.start")(consumer.start()))

      plan.rounds.zipWithIndex.foreach { case (r, i) =>
        val vm = commit("Snapshots.merge", r.upserts.size) {
          Snapshots.merge(plan.upsertDfs(i), src, "bucket", Seq(Key), Seq(Key))
        }
        query.foreach(consumer.await(_, vm))
        val vd = commit("Snapshots.delete_dv", r.deletes.size) {
          Snapshots.deleteVectored(plan.deleteDfs(i), src, "bucket", Seq(Key))
        }
        ctx.check("Snapshots.versions", vm == 2 + 2 * i && vd == vm + 1, s"round $i committed $vm, $vd")
        // the live replica keeps up: the next commit lands on an idle,
        // polling consumer, as in a steady replication pipeline
        query.foreach(consumer.await(_, vd))
        val head = ctx.op("Snapshots.read_head") {
          fold(Snapshots.prunedScanAtBy(spark, src, vd, Key, r.lo, r.hi))
        }
        ctx.check("Snapshots.read_head", head == modelFold(plan.models(vd.toInt).filter {
          case (k, _) => k >= r.lo && k < r.hi }), s"range [${r.lo}, ${r.hi}) at v$vd read $head")
        val back = vd - 2
        val travel = ctx.op("Snapshots.read_travel")(fold(Snapshots.readAt(spark, src, back)))
        ctx.check("Snapshots.read_travel", travel == modelFold(plan.models(back.toInt)),
          s"v$back read $travel")
        if (ctx.traced) ctx.untimed {
          val files = Snapshots.files(spark, src, vd)
          ctx.sample("Snapshots.pruned_files_ratio",
            Snapshots.prunedFilesBy(spark, src, vd, Key, r.lo, r.hi).size.toDouble / files.size)
          ctx.sample("Snapshots.head_files", files.size.toDouble)
          ctx.sample("Snapshots.dv_files", Snapshots.deletionVectorsAt(spark, src, vd).size.toDouble)
        }
        if (!live) ctx.op("ChangeFeed.catchup")(consumer.catchUp())
      }
      query.foreach(q => ctx.op("ChangeFeed.catchup")(q.processAllAvailable()))
    } finally query.foreach(_.stop())

    val last = plan.models.size - 1
    ctx.untimed {
      val replicated = consumer.replicated
      ctx.check("ChangeFeed.replicated_versions", replicated == (1 to last).toSet,
        s"replicated versions ${replicated.toSeq.sorted.mkString(",")}, expected 1..$last")
      ctx.check("Snapshots.replica_rows", toModel(Snapshots.read(spark, rep).collect()) == plan.models(last),
        "replica differs from the model")
    }
    val vc = ctx.op("Snapshots.compact")(Snapshots.compact(spark, src, "bucket", Seq(Key)))
    ctx.untimed {
      ctx.check("Snapshots.head_rows", toModel(Snapshots.readAt(spark, src, vc).collect()) == plan.models(last),
        "source head differs from the model")
      Snapshots.dropPath(spark, base)
    }
  }

  /** The replica: the change feed of `src`, one committed version per
    * microbatch, netted and applied to `rep` through the batch ledger
    * (inserts upsert; deletes without a same-key insert delete). */
  private final class Consumer(ctx: Ctx, src: String, rep: String, ckpt: String,
                               committed: java.util.Map[Long, Long]) {
    private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def replicated: Set[Int] = done.asScala.toSet

    /** Wait until the replica holds version `v` (or the query stopped). */
    def await(q: StreamingQuery, v: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!done.contains(v.toInt) && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    }

    def start(): StreamingQuery =
      ChangeFeed.readStream(ctx.spark, src, maxVersionsPerBatch = 1L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) => apply(batch, batchId); () }
        .start()

    def catchUp(): Unit = {
      val q = start()
      try q.processAllAvailable() finally q.stop()
    }

    private def apply(batch: DataFrame, batchId: Long): Unit = {
      // versions are consecutive from 1 and each batch holds exactly one
      val version = batchId + 1
      val net = ctx.op("ChangeFeed.batch") {
        val n = ChangeFeed.net(batch).persist(StorageLevel.MEMORY_AND_DISK)
        if (ctx.traced) {
          ctx.untimed(ctx.sample("ChangeFeed.rows_read", batch.count().toDouble))
          ctx.sample("ChangeFeed.rows_net", n.count().toDouble)
        }
        n
      }
      try ctx.op("Snapshots.apply") {
        val inserts = net.filter(col(ChangeFeed.ChangeCol) === "insert")
          .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
        val removed = net.filter(col(ChangeFeed.ChangeCol) === "delete")
          .drop(ChangeFeed.ChangeCol, ChangeFeed.VersionCol)
          .join(inserts.select(Key), Seq(Key), "left_anti")
        Snapshots.mergeBatch(batchId, inserts, rep, "bucket", Seq(Key), Seq(Key),
          deletes = Some(removed))
      } finally net.unpersist(false)
      done.add(version.toInt)
      Option(committed.get(version)).foreach(t =>
        ctx.sample("replica_lag_ms", (ctx.tracer.now() - t) / 1e6))
    }
  }
}
