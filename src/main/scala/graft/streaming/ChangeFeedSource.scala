package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{Dv, Snapshots}

/** The CDC CONSUMER half of the snapshot table's streaming story —
  * the complement of [[graft.operators.Snapshots.mergeBatch]]'s
  * exactly-once PRODUCER sink: a Structured Streaming SOURCE that
  * replays a snapshot table's change feed version by version, one
  * microbatch per committed-version range (the Delta CDF /
  * Iceberg changelog-scan shape), implemented as a DataSource V2
  * `MicroBatchStream`.
  *
  * Offsets ARE versions: `latestOffset` is one manifest-directory
  * listing, and planning a batch for versions (a, b] reads ONLY
  * manifests — for each step v-1 → v the input partitions are the
  * step's [[graft.operators.Snapshots.ChangeSet]] (the rule
  * [[graft.operators.Snapshots.diff]] reads by): the files only v
  * lists tagged `insert`, the files only v-1 lists and the shared
  * files whose deletion vector grew tagged `delete`, each with its
  * `_version`. File sharing cancels the carried-over bulk at the
  * METADATA level, so a batch's I/O is ∝ the churn between its
  * versions, never table size, and a compaction contributes only its
  * rewritten buckets.
  *
  * Semantics contract — FILE-level changelog: a row that was
  * rewritten byte-identically into a new file (a compaction, or the
  * untouched rows of a merged bucket) appears as one delete + one
  * insert in the same version. That is exactly what Iceberg's
  * changelog scan emits before its net-changes fold; the NET
  * row-level feed ([[graft.operators.Snapshots.diff]]'s exceptAll
  * semantics) is [[ChangeFeed.net]] — a per-version multiset
  * cancellation the consumer applies where it wants row-exact
  * changes (the spec reconciles `net(drained) == diff` bit-for-bit
  * per version; net-of-a-compaction is provably empty).
  *
  * Scale shape: each executor task reads one whole parquet file
  * through Spark's own parquet reader — the one the batch path scans
  * with, so files that predate a column (additive evolution)
  * null-fill it by NAME and narrow files widen exactly as
  * [[graft.operators.Snapshots.readAt]] does — with no shuffle at
  * all; the shuffle, if any, belongs to the consumer's fold.
  *
  * Vacuum interplay: streaming from `startVersion` requires every
  * manifest in (startVersion, latest] to still exist — a vacuumed
  * horizon refuses loudly (the Delta CDF retention rule), it never
  * silently skips versions.
  */
object ChangeFeed {

  val ChangeCol = "_change"
  val VersionCol = "_version"

  /** Open the change feed of the snapshot table at `dir` as a
    * streaming DataFrame. `startVersion` is EXCLUSIVE: 0 replays all
    * history (the first version arrives as pure inserts).
    * `maxVersionsPerBatch` > 0 is ADMISSION CONTROL: a restart
    * facing a long version backlog paces it across that many
    * committed versions per microbatch instead of one giant
    * catch-up batch (0 = unbounded, the default).
    * `maxBytesPerBatch` > 0 paces by DATA VOLUME instead (Delta's
    * maxBytesPerTrigger): versions admit until the next one would
    * push the batch's file bytes — the manifests' recorded `#fsize`
    * for each step's symmetric difference, zero data opens — past
    * the cap; at least one version always admits (a soft cap, so a
    * single oversized commit still progresses). Both caps may be
    * set; the stricter one wins. */
  def readStream(spark: SparkSession, dir: String,
                 startVersion: Long = 0L,
                 maxVersionsPerBatch: Long = 0L,
                 maxBytesPerBatch: Long = 0L): DataFrame =
    spark.readStream.format(classOf[ChangeFeedProvider].getName)
      .option("path", dir)
      .option("startVersion", startVersion.toString)
      .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
      .option("maxBytesPerBatch", maxBytesPerBatch.toString)
      .load()

  /** Collapse the file-level changelog into NET row-level changes
    * per version — exactly [[graft.operators.Snapshots.diff]]'s
    * exceptAll (multiset-difference) semantics: per (row, version),
    * inserts and deletes cancel; |net| copies of the winning sign
    * survive. One hash aggregation keyed by the row itself — the
    * same shuffle exceptAll pays. */
  def net(changes: DataFrame): DataFrame = {
    val dataCols = changes.columns.filterNot(_ == ChangeCol)
    changes
      .groupBy(dataCols.map(col): _*)
      .agg(sum(when(col(ChangeCol) === "insert", 1L).otherwise(-1L)).as("_net"))
      .filter(col("_net") =!= 0L)
      .withColumn(ChangeCol,
        when(col("_net") > 0, "insert").otherwise("delete"))
      .withColumn("_dup", explode(sequence(lit(1L), abs(col("_net")))))
      .drop("_net", "_dup")
  }

  /** The named-table streaming surfaces ([[graft.sources.GraftTable]]
    * — `readStream.format("graft")` / `readStream.table("cat.db.t")`):
    *
    *  - `feedTable` is the CDC feed as a DSv2 Table (the
    *    `changeFeed=true` option on the graft provider — the schema
    *    gains `_change`/`_version`, exactly [[readStream]]);
    *  - `appendTailStream` is the APPEND-ONLY tail with the TABLE's
    *    own schema (what `readStream.table(ident)` must have — a
    *    catalog-resolved relation cannot grow columns): each
    *    microbatch is the new versions' INSERTED rows, and any
    *    non-append change (a delete-side file, a grown deletion
    *    vector) REFUSES loudly instead of silently dropping deletes —
    *    the public Delta streaming-source contract. */
  def feedTable(dir: String, startVersion: Long, maxVersionsPerBatch: Long,
                maxBytesPerBatch: Long, schema: StructType): Table =
    new ChangeFeedTable(dir, startVersion, maxVersionsPerBatch,
      maxBytesPerBatch, schema)

  def appendTailStream(dir: String, startVersion: Long,
                       maxVersionsPerBatch: Long, maxBytesPerBatch: Long,
                       schema: StructType): MicroBatchStream =
    new ChangeFeedStream(dir, startVersion, maxVersionsPerBatch,
      maxBytesPerBatch, schema, appendOnly = true)

  /** The feed's schema: the table's logical schema + change tag +
    * version stamp. */
  def feedSchema(spark: SparkSession, dir: String): StructType = {
    val v = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed snapshot versions to stream from"))
    val data = Snapshots.manifest(spark, dir, v).schemaOpt.getOrElse(
      throw new IllegalArgumentException(
        s"$dir: version $v predates manifest format 2 (no recorded schema) " +
          "— the change feed needs format-2 manifests"))
    StructType(data.fields :+
      StructField(ChangeCol, StringType, nullable = false) :+
      StructField(VersionCol, LongType, nullable = false))
  }
}

/** DSv2 entry point: `spark.readStream.format(<this class>)`. */
class ChangeFeedProvider extends TableProvider {
  private def dirOf(m: CaseInsensitiveStringMap): String = {
    val d = m.get("path")
    require(d != null && d.nonEmpty, "changefeed: option 'path' is required")
    d
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeFeed.feedSchema(SparkSession.active, dirOf(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val start = Option(opts.get("startVersion")).map(_.toLong).getOrElse(0L)
    val maxV = Option(opts.get("maxVersionsPerBatch")).map(_.toLong).getOrElse(0L)
    val maxB = Option(opts.get("maxBytesPerBatch")).map(_.toLong).getOrElse(0L)
    new ChangeFeedTable(dirOf(opts), start, maxV, maxB, schema)
  }
}

private[streaming] class ChangeFeedTable(dir: String, startVersion: Long,
                                         maxVersionsPerBatch: Long,
                                         maxBytesPerBatch: Long,
                                         fullSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_changefeed($dir)"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = fullSchema
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChangeFeedStream(dir, startVersion, maxVersionsPerBatch,
            maxBytesPerBatch, fullSchema)
      }
    }
}

/** Offset = committed table version (json is just the number). */
private[graft] case class ChangeFeedOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** One input partition: a whole data file (manifest-relative), tagged
  * with the change kind and the version whose step it belongs to, and
  * the deletion vectors that pick its rows under
  * [[graft.operators.Snapshots.ChangeSet]]'s rule: a row emits when
  * `liveUnder` does not record it dead and, if `deadUnder` is set,
  * that one does (the newly-dead rows of a shared file whose vector
  * grew). Vectors ride as manifest descriptors; an executor resolves
  * a sidecar when it reads the file. */
private[graft] case class ChangeFilePartition(
    rel: String, change: String, version: Long,
    liveUnder: Option[Dv.Vec], deadUnder: Option[Dv.Vec] = None)
    extends InputPartition

private[graft] class ChangeFeedStream(dir: String, startVersion: Long,
                                      maxVersionsPerBatch: Long,
                                      maxBytesPerBatch: Long,
                                      fullSchema: StructType,
                                      appendOnly: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  private def head: Long = Snapshots.latest(spark, dir).getOrElse(startVersion)

  /** The head an AvailableNow run paces up to, pinned as it starts. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(head)

  override def initialOffset(): Offset = ChangeFeedOffset(startVersion)

  override def latestOffset(): Offset = ChangeFeedOffset(head)

  /** The change set of the step INTO committed version `v`. Its
    * predecessor is the last COMMITTED version below it (aborted
    * transactions' tombstones carry no state); without one the step
    * is genesis, all inserts — valid only while history still starts
    * at v1, else older state was vacuumed away and a full insert
    * would double it. */
  private def stepInto(v: Long, committed: Seq[Long],
                       raw: Seq[Long]): Snapshots.ChangeSet = {
    val old = committed.takeWhile(_ < v).lastOption match {
      case Some(p) => Snapshots.manifest(spark, dir, p)
      case None =>
        require(raw.headOption.contains(1L),
          s"changefeed: no committed predecessor of version $v and the " +
            s"manifest history of $dir no longer starts at v1 (vacuumed) " +
            "— cannot establish a change baseline")
        Snapshots.Manifest(Nil, Nil)
    }
    Snapshots.changeSet(old, Snapshots.manifest(spark, dir, v))
  }

  /** Manifest-only byte cost of a step: the recorded `#fsize` sum of
    * the files it reads — its change set's inserted, removed and
    * grown files. Files without a recorded size count 0, so legacy
    * tables degrade toward version pacing rather than stalling. */
  private def stepBytes(cs: Snapshots.ChangeSet): Long =
    (cs.inserted ++ cs.removed ++ cs.grown).map(cs.sizes.getOrElse(_, 0L)).sum

  /** ADMISSION CONTROL: with `maxVersionsPerBatch` set, a restart
    * facing a long committed-version backlog paces it across that
    * many versions per microbatch — bounded catch-up batches instead
    * of one giant one (the Delta `maxFilesPerTrigger` discipline,
    * in version units because versions are this source's offsets).
    * `maxBytesPerBatch` paces by [[stepBytes]] the same way; an
    * AvailableNow run paces up to the head pinned at its start. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val a = start.asInstanceOf[ChangeFeedOffset].v
    val end = availableNowEnd.getOrElse(head)
    if (maxVersionsPerBatch <= 0 && maxBytesPerBatch <= 0)
      ChangeFeedOffset(end)
    else {
      // pace in COMMITTED versions (tombstones carry no data and
      // should not consume batch budget); the version cap and the
      // byte cap compose — the stricter one stops admission
      val raw = Snapshots.rawVersions(spark, dir)
      val committed = Snapshots.versions(spark, dir)
      var admitted = 0L
      var bytes = 0L
      var last = a
      var open = true
      committed.filter(v => v > a && v <= end).foreach { v =>
        if (open) {
          val cost =
            if (maxBytesPerBatch > 0) stepBytes(stepInto(v, committed, raw)) else 0L
          val countOk = maxVersionsPerBatch <= 0 ||
            admitted < maxVersionsPerBatch
          // soft byte cap: the FIRST version always admits
          val bytesOk = maxBytesPerBatch <= 0 || admitted == 0 ||
            bytes + cost <= maxBytesPerBatch
          if (countOk && bytesOk) {
            admitted += 1; bytes += cost; last = v
          } else open = false
        }
      }
      ChangeFeedOffset(last)
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    ChangeFeedOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[ChangeFeedOffset].v
    val b = end.asInstanceOf[ChangeFeedOffset].v
    val raw = Snapshots.rawVersions(spark, dir)
    val rawSet = raw.toSet
    // every number in the replay window must still have its manifest —
    // a vacuumed gap refuses loudly (the Delta-CDF retention rule),
    // it never silently skips history
    (math.max(a + 1, raw.headOption.getOrElse(Long.MaxValue)) to b).foreach(v =>
      require(rawSet.contains(v),
        s"changefeed: version $v of $dir no longer exists (vacuumed?) — " +
          "cannot replay a gap; start the stream at or above the vacuum horizon"))
    val committed = Snapshots.versions(spark, dir)
    committed.filter(v => v > a && v <= b).flatMap { v =>
      val cs = stepInto(v, committed, raw)
      val inserts = cs.inserted.map(r =>
        ChangeFilePartition(r, "insert", v, cs.dvNew.get(r)))
      if (appendOnly) {
        // the append-only tail contract: a version that REMOVED data
        // (a rewrite, a delete, a grown deletion vector) refuses
        // loudly — silently dropping the deletes would desynchronize
        // every downstream consumer (the public Delta streaming rule:
        // fail on non-append changes; stream the change feed for CDC)
        require(cs.removed.isEmpty && cs.grown.isEmpty,
          s"streaming $dir as an append-only source hit a NON-APPEND " +
            s"change at version $v (files rewritten/removed or deletion " +
            "vectors grown) — stream the CHANGE FEED instead " +
            "(readStream.format(\"graft\").option(\"changeFeed\", true) " +
            "or ChangeFeed.readStream), or restart above that version")
        inserts
      } else
        inserts ++
          cs.removed.map(r => ChangeFilePartition(r, "delete", v, cs.dvOld.get(r))) ++
          cs.grown.map(r =>
            ChangeFilePartition(r, "delete", v, cs.dvOld.get(r), cs.dvNew.get(r)))
    }.toArray
  }

  /** RENAMED columns (format 2.1): files store PHYSICAL names, the
    * feed surfaces the latest LOGICAL names — physical names are
    * immutable, so the latest manifest's map covers every replayed
    * version's files. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val toPhys = Snapshots.latest(spark, dir)
      .map(v => Snapshots.manifest(spark, dir, v).toPhysical)
      .getOrElse(Map.empty[String, String])
    val (data, meta) = fullSchema.fields.splitAt(
      if (appendOnly) fullSchema.length else fullSchema.length - 2)
    ChangeFeedReaderFactory(spark, dir, StructType(data.map(f =>
      f.copy(name = toPhys.getOrElse(f.name, f.name)))), StructType(meta))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] object ChangeFeedReaderFactory {
  /** The factory over Spark's own parquet reader function — the format
    * class the batch path scans with, so widening and by-name
    * null-filling match [[Snapshots.readAt]] — built once, on the
    * driver, for the `physical` columns, in row mode. A non-empty
    * `meta` (CDC mode: `_change`, `_version`) rides as each file's
    * constant partition values, appended by the reader itself. */
  def apply(spark: SparkSession, dir: String, physical: StructType,
            meta: StructType): ChangeFeedReaderFactory = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, physical, meta, physical, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(hadoopConf))
    new ChangeFeedReaderFactory(dir, read,
      new SerializableConfiguration(hadoopConf), emitMeta = meta.nonEmpty)
  }
}

/** Reads one [[ChangeFilePartition]]: the whole file as one split, in
  * file order, so a row counter is the row's position for the
  * deletion-vector test ([[Dv.deadIn]], the batch scan's per-file
  * test). CDC mode gets `_change`/`_version` as the file's partition
  * values; the append-only tail emits the table row as read. */
private[graft] class ChangeFeedReaderFactory(dir: String,
    read: PartitionedFile => Iterator[InternalRow],
    conf: SerializableConfiguration, emitMeta: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ChangeFilePartition]
    val path = new Path(s"$dir/${part.rel}")
    val len = path.getFileSystem(conf.value).getFileStatus(path).getLen
    val meta =
      if (emitMeta) InternalRow(UTF8String.fromString(part.change), part.version)
      else InternalRow.empty
    val rows = read(PartitionedFile(meta, SparkPath.fromPath(path), 0L, len,
      fileSize = len))
    val deadBefore = Dv.deadIn(conf.value, dir, part.liveUnder)
    val deadAfter: Long => Boolean =
      if (part.deadUnder.isEmpty) _ => true
      else Dv.deadIn(conf.value, dir, part.deadUnder)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (rows.hasNext) {
          row = rows.next()
          pos += 1
          if (!deadBefore(pos) && deadAfter(pos)) return true
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}
