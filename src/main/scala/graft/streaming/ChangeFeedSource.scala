package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Snapshots

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
  * files the two manifests do NOT share, each tagged `insert` (only
  * in v) or `delete` (only in v-1) with its `_version`. File sharing
  * cancels the carried-over bulk at the METADATA level, so a batch's
  * I/O is ∝ the churn between its versions, never table size, and a
  * compaction contributes only its rewritten buckets.
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
  * Scale shape: executors read whole parquet files (the same
  * row-group streams any scan reads) with no shuffle at all — the
  * shuffle, if any, belongs to the consumer's fold. The reader
  * handles flat scalar schemas (the snapshot-table write shape) and
  * fails loudly outside them; files that predate a column (additive
  * evolution) null-fill it by NAME, matching the batch read path.
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
private[streaming] case class ChangeFeedOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** One input partition: a whole data file, tagged with the change
  * kind and the version whose commit added/removed it. DELETION
  * VECTORS ride as row-position filters: `skipPos` rows are excluded
  * (they were already dead on this side's version — an insert-side
  * file's own vector, or a delete-side file's PRE-existing vector);
  * a non-empty `onlyPos` inverts the mode and emits EXACTLY those
  * rows — the newly-dead rows of a shared file whose vector grew (a
  * DV commit changes no files, so the file diff alone cannot see
  * those deletes). Positions are within-file row indices, the same
  * order this reader's sequential scan walks. */
private[streaming] case class ChangeFilePartition(
    absPath: String, change: String, version: Long,
    skipPos: Array[Long] = Array.empty,
    onlyPos: Array[Long] = Array.empty) extends InputPartition

private[streaming] class ChangeFeedStream(dir: String, startVersion: Long,
                                          maxVersionsPerBatch: Long,
                                          maxBytesPerBatch: Long,
                                          fullSchema: StructType,
                                          appendOnly: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def spark = SparkSession.active

  override def initialOffset(): Offset = ChangeFeedOffset(startVersion)

  override def latestOffset(): Offset =
    ChangeFeedOffset(Snapshots.latest(spark, dir).getOrElse(startVersion))

  /** ADMISSION CONTROL: with `maxVersionsPerBatch` set, a restart
    * facing a long committed-version backlog paces it across that
    * many versions per microbatch — bounded catch-up batches instead
    * of one giant one (the Delta `maxFilesPerTrigger` discipline,
    * in version units because versions are this source's offsets). */
  /** Manifest-only byte cost of the step INTO committed version `v`
    * (the symmetric difference's recorded `#fsize` sum — insert-side
    * sizes from v's manifest, delete-side from its predecessor's;
    * files without a recorded size count 0, so legacy tables degrade
    * toward version pacing rather than stalling). */
  private def stepBytes(v: Long, prevCommitted: Option[Long]): Long = {
    val mNew = Snapshots.manifest(spark, dir, v)
    val fNew = mNew.files.toSet
    val (fOld, oldSizes) = prevCommitted match {
      case Some(p) =>
        val mp = Snapshots.manifest(spark, dir, p)
        (mp.files.toSet, mp.fileSizes)
      case None => (Set.empty[String], Map.empty[String, Long])
    }
    val newSizes = mNew.fileSizes
    // a shared file whose deletion vector grew is read too (to emit
    // the newly-dead rows) — admission control prices it like churn
    def deadCounts(m: graft.operators.Snapshots.Manifest): Map[String, Long] =
      m.dvs.map { case (r, d) => r -> d.count }
    val dvOldC = prevCommitted.map(p =>
      deadCounts(Snapshots.manifest(spark, dir, p))).getOrElse(Map.empty)
    val dvNewC = deadCounts(mNew)
    val grown = (fNew & fOld).iterator.filter { r =>
      dvNewC.getOrElse(r, 0L) > dvOldC.getOrElse(r, 0L)
    }
    (fNew -- fOld).iterator.map(newSizes.getOrElse(_, 0L)).sum +
      (fOld -- fNew).iterator.map(oldSizes.getOrElse(_, 0L)).sum +
      grown.map(newSizes.getOrElse(_, 0L)).sum
  }

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val a = start.asInstanceOf[ChangeFeedOffset].v
    val end = Snapshots.latest(spark, dir).getOrElse(startVersion)
    if (maxVersionsPerBatch <= 0 && maxBytesPerBatch <= 0)
      ChangeFeedOffset(end)
    else {
      // pace in COMMITTED versions (tombstones carry no data and
      // should not consume batch budget); the version cap and the
      // byte cap compose — the stricter one stops admission
      val committed = Snapshots.versions(spark, dir)
      val window = committed.filter(v => v > a && v <= end)
      var prev = committed.filter(_ <= a).lastOption
      var admitted = 0L
      var bytes = 0L
      var last = a
      var open = true
      window.foreach { v =>
        if (open) {
          val cost = if (maxBytesPerBatch > 0) stepBytes(v, prev) else 0L
          val countOk = maxVersionsPerBatch <= 0 ||
            admitted < maxVersionsPerBatch
          // soft byte cap: the FIRST version always admits
          val bytesOk = maxBytesPerBatch <= 0 || admitted == 0 ||
            bytes + cost <= maxBytesPerBatch
          if (countOk && bytesOk) {
            admitted += 1; bytes += cost; last = v; prev = Some(v)
          } else open = false
        }
      }
      ChangeFeedOffset(last)
    }
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

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
      val mNew = Snapshots.manifest(spark, dir, v)
      val fNew = mNew.files.toSet
      val dvNew = Snapshots.resolveDv(spark, dir, mNew)
      // aborted-transaction tombstones carry no state: a step's
      // predecessor is the last COMMITTED version below it
      val (fOld, dvOld) = committed.filter(_ < v).lastOption match {
        case Some(p) =>
          val mp = Snapshots.manifest(spark, dir, p)
          (mp.files.toSet, Snapshots.resolveDv(spark, dir, mp))
        case None =>
          // genesis (all inserts) is only valid when history is
          // complete back to version 1 — otherwise older committed
          // state was vacuumed away and a full-insert would double it
          require(raw.headOption.contains(1L),
            s"changefeed: no committed predecessor of version $v and the " +
              s"manifest history of $dir no longer starts at v1 (vacuumed) " +
              "— cannot establish a change baseline")
          (Set.empty[String], Map.empty[String, Array[Long]])
      }
      // DELETION VECTORS: a shared file whose vector GREW this step
      // contributes its newly-dead rows as deletes (the file sets
      // cannot see a metadata-only DV commit); each side's own files
      // read under that side's vector so already-dead rows never
      // re-emit
      val grownDeletes = (fNew & fOld).toSeq.sorted.flatMap { r =>
        val od = dvOld.getOrElse(r, Array.empty[Long])
        val odSet = od.toSet
        val nd = dvNew.getOrElse(r, Array.empty[Long]).filterNot(odSet)
        if (nd.isEmpty) None
        else Some(ChangeFilePartition(s"$dir/$r", "delete", v,
          onlyPos = nd.sorted))
      }
      val inserts = (fNew -- fOld).toSeq.sorted.map(r =>
        ChangeFilePartition(s"$dir/$r", "insert", v,
          skipPos = dvNew.getOrElse(r, Array.empty[Long])))
      if (appendOnly) {
        // the append-only tail contract: a version that REMOVED data
        // (a rewrite, a delete, a grown deletion vector) refuses
        // loudly — silently dropping the deletes would desynchronize
        // every downstream consumer (the public Delta streaming rule:
        // fail on non-append changes; stream the change feed for CDC)
        require((fOld -- fNew).isEmpty && grownDeletes.isEmpty,
          s"streaming $dir as an append-only source hit a NON-APPEND " +
            s"change at version $v (files rewritten/removed or deletion " +
            "vectors grown) — stream the CHANGE FEED instead " +
            "(readStream.format(\"graft\").option(\"changeFeed\", true) " +
            "or ChangeFeed.readStream), or restart above that version")
        inserts
      } else
        inserts ++
          (fOld -- fNew).toSeq.sorted.map(r =>
            ChangeFilePartition(s"$dir/$r", "delete", v,
              skipPos = dvOld.getOrElse(r, Array.empty[Long]))) ++
          grownDeletes
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // RENAMED columns (format 2.1): files store PHYSICAL names, the
    // feed surfaces the latest LOGICAL names — resolve the mapping
    // once from the latest manifest and ship it to the executors
    // (physical names are immutable, so one map covers every replayed
    // version's files)
    val toPhys = Snapshots.latest(spark, dir)
      .map(v => Snapshots.manifest(spark, dir, v).toPhysical)
      .getOrElse(Map.empty[String, String])
    val dataFields =
      if (appendOnly) fullSchema.fields else fullSchema.fields.dropRight(2)
    val physNames = dataFields.map(f => toPhys.getOrElse(f.name, f.name))
    new ChangeFeedReaderFactory(fullSchema.json, physNames,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      emitMeta = !appendOnly)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[streaming] class ChangeFeedReaderFactory(
    schemaJson: String, physNames: Array[String],
    conf: SerializableConfiguration, emitMeta: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[ChangeFilePartition]
    new ChangeFileReader(cp,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], physNames,
      conf.value, emitMeta)
  }
}

/** Executor-side whole-file parquet reader producing the feed's rows
  * (data columns by NAME, then `_change`, `_version`). Built on the
  * public parquet-mr record API — no SparkSession exists on the
  * executor. Values materialize STRAIGHT into Catalyst slots through
  * [[RowArrayReadSupport]] (guide §4: the CDC scan's per-row decode
  * previously built one example-API SimpleGroup plus per-field boxes
  * per row — pure allocation the drain's GC then paid for; q179's
  * whole-history replay measured ~1 s of GC per bench round on it).
  * Flat scalar schemas only (the snapshot-table write shape);
  * columns the file predates null-fill. */
private[streaming] class ChangeFileReader(
    part: ChangeFilePartition, fullSchema: StructType,
    physNames: Array[String],
    conf: org.apache.hadoop.conf.Configuration,
    emitMeta: Boolean = true)
    extends PartitionReader[InternalRow] {

  // CDC mode carries _change/_version as the LAST two fields; the
  // append-only tail emits the table schema verbatim
  private val dataFields =
    if (emitMeta) fullSchema.fields.dropRight(2) else fullSchema.fields
  private val reader = org.apache.parquet.hadoop.ParquetReader
    .builder(new RowArrayReadSupport(physNames,
        dataFields.map(_.dataType),
        dataFields.length + (if (emitMeta) 2 else 0), part.absPath),
      new org.apache.hadoop.fs.Path(part.absPath))
    .withConf(conf)
    .build()
  private val changeTag = UTF8String.fromString(part.change)
  private var row: InternalRow = _
  // deletion-vector position filters: sequential scan + sorted-array
  // pointers, O(1) per row (positions are within-file row indices in
  // exactly this reader's walk order)
  private val onlyMode = part.onlyPos.nonEmpty
  private var onlyIdx = 0
  private var skipIdx = 0
  private var pos = -1L

  override def next(): Boolean = {
    while (true) {
      if (onlyMode && onlyIdx >= part.onlyPos.length) {
        row = null; return false // emitted every selected row: done
      }
      val vals = reader.read()
      if (vals == null) { row = null; return false }
      pos += 1
      if (onlyMode) {
        if (pos == part.onlyPos(onlyIdx)) {
          onlyIdx += 1; row = toRow(vals); return true
        } // else: not a newly-dead row of this step — skip
      } else if (skipIdx < part.skipPos.length && pos == part.skipPos(skipIdx)) {
        skipIdx += 1 // dead on this side's version: never emits
      } else {
        row = toRow(vals); return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()

  /** The materialized slot array is already output-shaped (one fresh
    * array per record); CDC mode stamps the trailing meta slots. */
  private def toRow(vals: Array[Any]): InternalRow = {
    if (emitMeta) {
      vals(dataFields.length) = changeTag
      vals(dataFields.length + 1) = part.version
    }
    new GenericInternalRow(vals)
  }
}

/** parquet-mr → Catalyst WITHOUT the example Group API: a
  * [[org.apache.parquet.hadoop.api.ReadSupport]] whose converters
  * write each primitive straight into a slot array (one fresh
  * output-shaped array per record, no intermediate Group, no
  * per-field box churn). The projection keeps only the requested
  * PHYSICAL fields the file actually has — fields the file predates
  * stay null (additive evolution), and each present field widens
  * from the FILE's stored primitive to the requested Catalyst type
  * (int32→long, float→double, int32→double — the lossless promotions
  * [[graft.operators.Snapshots]] permits and Spark's own parquet
  * reader performs on the batch path; any other pairing refuses
  * loudly). Flat scalar schemas only. */
private[graft] class RowArrayReadSupport(
    physNames: Array[String], dataTypes: Array[DataType],
    rowWidth: Int, where: String)
    extends org.apache.parquet.hadoop.api.ReadSupport[Array[Any]] {
  import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
  import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
  import org.apache.parquet.schema.MessageType
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  override def init(ctx: InitContext): ReadSupport.ReadContext = {
    val file = ctx.getFileSchema
    val kept = physNames.filter(file.containsField)
    // a file containing NONE of the requested physical names (every
    // requested field predates it) must still drive one null-filled
    // output row per stored row — keep ONE file column as the row
    // pacemaker rather than relying on parquet-mr's empty-projection
    // path (some versions reject it, and its EmptyRecordReader never
    // calls the root converter's start()); its values discard. It
    // must be a PRIMITIVE column: prepareForRead hands the pacemaker
    // a PrimitiveConverter, which a group column cannot take
    val fields =
      if (kept.nonEmpty) kept.map(n => file.getType(file.getFieldIndex(n)))
      else Array((0 until file.getFieldCount).map(file.getType(_))
        .find(_.isPrimitive).getOrElse(throw new UnsupportedOperationException(
          s"no primitive column to pace null-filled rows by in $where")))
    new ReadSupport.ReadContext(new MessageType(file.getName, fields: _*))
  }

  private def slotConverter(prim: PrimitiveTypeName, dt: DataType,
                            slots: Array[Any], out: Int): PrimitiveConverter = {
    def refuse(): Nothing = throw new UnsupportedOperationException(
      s"column type ${dt.simpleString} cannot be read " +
        s"from a $prim-typed file column in $where")
    dt match {
      case LongType | TimestampType | TimestampNTZType => prim match {
        case INT64 => new PrimitiveConverter {
          override def addLong(v: Long): Unit = slots(out) = v
        }
        case INT32 => new PrimitiveConverter { // pre-widening file
          override def addInt(v: Int): Unit = slots(out) = v.toLong
        }
        case _ => refuse()
      }
      case IntegerType | DateType => prim match {
        case INT32 => new PrimitiveConverter {
          override def addInt(v: Int): Unit = slots(out) = v
        }
        case _ => refuse()
      }
      case DoubleType => prim match {
        case DOUBLE => new PrimitiveConverter {
          override def addDouble(v: Double): Unit = slots(out) = v
        }
        case FLOAT => new PrimitiveConverter { // pre-widening file
          override def addFloat(v: Float): Unit = slots(out) = v.toDouble
        }
        case INT32 => new PrimitiveConverter { // int→double widening
          override def addInt(v: Int): Unit = slots(out) = v.toDouble
        }
        case _ => refuse()
      }
      case FloatType => prim match {
        case FLOAT => new PrimitiveConverter {
          override def addFloat(v: Float): Unit = slots(out) = v
        }
        case _ => refuse()
      }
      // boolean/string/binary dispatch on the FILE's primitive like
      // every numeric case: a contract-violating file refuses with
      // the path-bearing diagnostic instead of parquet-mr's bare
      // UnsupportedOperationException from the default add* methods
      case BooleanType => prim match {
        case BOOLEAN => new PrimitiveConverter {
          override def addBoolean(v: Boolean): Unit = slots(out) = v
        }
        case _ => refuse()
      }
      case StringType => prim match {
        case BINARY | FIXED_LEN_BYTE_ARRAY => new PrimitiveConverter {
          override def addBinary(v: Binary): Unit =
            slots(out) = UTF8String.fromBytes(v.getBytes)
        }
        case _ => refuse()
      }
      case BinaryType => prim match {
        case BINARY | FIXED_LEN_BYTE_ARRAY => new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = slots(out) = v.getBytes
        }
        case _ => refuse()
      }
      case d: DecimalType => prim match {
        case INT32 => new PrimitiveConverter {
          override def addInt(v: Int): Unit = slots(out) =
            org.apache.spark.sql.types.Decimal(v.toLong, d.precision, d.scale)
        }
        case INT64 => new PrimitiveConverter {
          override def addLong(v: Long): Unit = slots(out) =
            org.apache.spark.sql.types.Decimal(v, d.precision, d.scale)
        }
        case BINARY | FIXED_LEN_BYTE_ARRAY => new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = slots(out) =
            org.apache.spark.sql.types.Decimal(
              scala.math.BigDecimal(new java.math.BigDecimal(
                new java.math.BigInteger(v.getBytes), d.scale)),
              d.precision, d.scale)
        }
        case other => throw new UnsupportedOperationException(
          s"decimal stored as $other is outside the contract ($where)")
      }
      case other => throw new UnsupportedOperationException(
        s"flat scalar columns only; ${other.simpleString} " +
          s"in $where is outside the contract")
    }
  }

  override def prepareForRead(
      conf: org.apache.hadoop.conf.Configuration,
      keyValueMetaData: java.util.Map[String, String],
      fileSchema: MessageType,
      readContext: ReadSupport.ReadContext): RecordMaterializer[Array[Any]] = {
    val requested = readContext.getRequestedSchema
    val outIdx = physNames.zipWithIndex.toMap
    val slots = new Array[Any](rowWidth)
    val converters: Array[Converter] =
      (0 until requested.getFieldCount).map { i =>
        val f = requested.getType(i)
        outIdx.get(f.getName) match {
          case Some(out) =>
            slotConverter(f.asPrimitiveType().getPrimitiveTypeName,
              dataTypes(out), slots, out)
          case None => // the row-pacemaker column of an all-predating
            // file (init's empty-projection short circuit): discard
            new PrimitiveConverter {
              override def addBoolean(v: Boolean): Unit = ()
              override def addInt(v: Int): Unit = ()
              override def addLong(v: Long): Unit = ()
              override def addFloat(v: Float): Unit = ()
              override def addDouble(v: Double): Unit = ()
              override def addBinary(v: Binary): Unit = ()
            }
        }
      }.toArray
    new RecordMaterializer[Array[Any]] {
      private val root = new GroupConverter {
        override def getConverter(fieldIndex: Int): Converter =
          converters(fieldIndex)
        override def start(): Unit = {
          var i = 0
          while (i < slots.length) { slots(i) = null; i += 1 }
        }
        override def end(): Unit = ()
      }
      override def getCurrentRecord: Array[Any] =
        java.util.Arrays.copyOf(
          slots.asInstanceOf[Array[AnyRef]], rowWidth).asInstanceOf[Array[Any]]
      override def getRootConverter: GroupConverter = root
    }
  }
}
