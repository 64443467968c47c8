package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The PUBLISH path — the step every real pipeline runs last and the
  * reference's missing "save the output" step (reference main.py
  * computes frames and plots them; it never writes a dataset): write
  * a layout-sorted, bucket-partitioned parquet dataset, then read it
  * back through footer min/max pruning and prove the round trip.
  *
  * Composition of already-gated pieces: a layout key (q112 Z-order /
  * q144 Hilbert or any integer sort key) orders rows inside each
  * file, directory bucketing bounds which files a key range can
  * touch, the q118 checksum proves the read-back identical, and a
  * q153 constraint suite gates the write ([[publishChecked]] refuses
  * to publish a batch that fails its suite — the Deequ discipline
  * applied where it matters, BEFORE the data ships).
  *
  * Scale shape (100 TB): the write is ONE hash repartition on the
  * bucket column + a local sort — the standard lakehouse write; each
  * bucket's rows land in exactly one task, so every bucket directory
  * holds exactly ONE file per write (deterministic layout, no
  * small-file spray). Footer statistics are per-file METADATA (KBs
  * per file regardless of file size): [[rowGroupStats]] walks them
  * driver-side, which is exactly what a table-format manifest read
  * is; at very large file counts the walk parallelizes trivially
  * (it is a per-file map), and the row-group min/max it reads are
  * the same stats any engine's scan-planner skip consults. A pruned
  * scan then reads ONLY the surviving files — I/O proportional to
  * the predicate's key range, not the table.
  */
object Layout {

  /** Per-row-group footer statistics of one parquet data file.
    * @param bucket the directory-partition value (`bucket=N`), if the
    *               file sits under one
    * @param min/max the row group's footer min/max for the key column */
  case class RowGroupStat(path: String, bucket: Option[Long],
                          rowCount: Long, min: Long, max: Long)

  /** Write `df` as a bucket-partitioned, key-sorted parquet dataset.
    * Each distinct `bucketCol` value becomes one directory holding
    * exactly one file (rows hash-repartition on the bucket, so a
    * bucket never splits across tasks), with rows sorted by
    * `sortCols` inside the file — the layout that makes footer
    * min/max pruning on the sort key effective.
    *
    * @param blockSize parquet row-group target in bytes (small values
    *                  give pruning resolution inside big files) */
  def publish(df: DataFrame, outDir: String, bucketCol: String,
              sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
              numTasks: Int = 32): Unit = {
    require(sortCols.nonEmpty, "publish needs at least one sort column")
    df.repartition(numTasks, col(bucketCol))
      .sortWithinPartitions(col(bucketCol) +: sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("parquet.block.size", blockSize)
      .partitionBy(bucketCol)
      .parquet(outDir)
  }

  /** [[publish]] gated by a constraint suite (the Deequ discipline:
    * validation BEFORE the data ships). Throws with the failing
    * labels and writes NOTHING if any constraint is violated; the
    * suite costs one extra scan of `df` (its own single-pass
    * aggregate), which is the price of the guarantee. */
  def publishChecked(df: DataFrame, outDir: String, bucketCol: String,
                     sortCols: Seq[String],
                     constraints: Seq[Constraints.Constraint],
                     blockSize: Long = 128L * 1024 * 1024,
                     numTasks: Int = 32): Unit = {
    require(constraints.nonEmpty,
      "publishChecked needs a non-empty suite; use publish for ungated writes")
    val report = Constraints.check(df, constraints).collect()
    val failed = report.filter(!_.getAs[Boolean]("passed"))
    if (failed.nonEmpty) {
      val detail = failed.map(r =>
        s"${r.getAs[String]("constraint")} (${r.getAs[Long]("violations")} violations)")
      throw new IllegalStateException(
        s"publishChecked: refusing to publish — ${detail.mkString(", ")}")
    }
    publish(df, outDir, bucketCol, sortCols, blockSize, numTasks)
  }

  /** Append an incremental batch into a published dataset: the same
    * one-task-per-bucket repartition + local sort, in APPEND mode —
    * each load adds exactly ONE new file per bucket it touches. This
    * is how real tables fragment (N incremental loads = N files per
    * bucket, each key-sorted internally but interleaved across
    * files); [[compact]] is the maintenance step that heals it. */
  def append(df: DataFrame, outDir: String, bucketCol: String,
             sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
             numTasks: Int = 32): Unit = {
    require(sortCols.nonEmpty, "append needs at least one sort column")
    df.repartition(numTasks, col(bucketCol))
      .sortWithinPartitions(col(bucketCol) +: sortCols.map(col): _*)
      .write.mode("append")
      .option("parquet.block.size", blockSize)
      .partitionBy(bucketCol)
      .parquet(outDir)
  }

  /** One bucket's compaction outcome: data-file count before/after
    * and the bucket's row count (all off real footers). */
  case class CompactStat(bucket: Long, filesBefore: Long,
                         filesAfter: Long, rows: Long)

  /** One bucket's planned swap: the merged replacement file sitting
    * in the temp dir, its final destination, and the fragmented old
    * files it replaces. Serialized into the journal verbatim. */
  private[graft] case class SwapEntry(bucket: Long, tmpFile: String,
                                      dstFile: String, oldFiles: Seq[String])

  private def journalPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_compact_journal")

  /** Write the swap journal ATOMICALLY before any destructive step.
    * Content atomicity matters as much as the claim: a create+write
    * that crashes mid-stream would leave a TORN journal whose
    * truncated last line wedges every future recovery — so the bytes
    * land in a temp sibling first and RENAME into place (rename is
    * the atomic primitive the swaps themselves already rely on).
    * Tab-separated: bucket, tmp, dst, old files (comma-joined) —
    * none of which can contain tabs or commas (they are parquet
    * part-file paths). */
  private[graft] def writeJournal(fs: org.apache.hadoop.fs.FileSystem,
                                  dir: String, entries: Seq[SwapEntry]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir, "_compact_journal.tmp")
    val out = fs.create(tmp, true) // temp: a crashed prior temp is garbage
    try out.write(entries.map(e =>
        s"${e.bucket}\t${e.tmpFile}\t${e.dstFile}\t${e.oldFiles.mkString(",")}")
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, journalPath(dir)),
      s"compact: journal rename failed under $dir (journal already present?)")
  }

  /** Replay a crashed compaction's journal to completion: for each
    * entry, finish the rename if the merged file is still in the
    * temp dir, then delete whichever old files remain. Every step is
    * idempotent (existence-checked), so recovery itself can crash
    * and re-run. No-op when no journal exists. */
  private[graft] def recoverCompact(fs: org.apache.hadoop.fs.FileSystem,
                                    dir: String): Boolean = {
    val jp = journalPath(dir)
    if (!fs.exists(jp)) return false
    val in = fs.open(jp)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    lines.foreach { l =>
      l.split("\t", 4) match {
        case Array(_, tmpFile, dstFile, olds) =>
          val tp = new org.apache.hadoop.fs.Path(tmpFile)
          val dp = new org.apache.hadoop.fs.Path(dstFile)
          if (fs.exists(tp) && !fs.exists(dp))
            require(fs.rename(tp, dp), s"compact recovery: rename $tp -> $dp failed")
          else if (fs.exists(tp)) fs.delete(tp, false) // defensive: both present
          olds.split(",").filter(_.nonEmpty).map(new org.apache.hadoop.fs.Path(_))
            .filter(fs.exists).foreach(fs.delete(_, false))
        case _ =>
          // a truncated trailing line (journal written by a pre-rename
          // build that crashed mid-write): its swap never started —
          // the merged file still sits in the temp dir and the bucket
          // is untouched, so skipping is SAFE (the re-plan below
          // re-compacts it) where a MatchError would wedge every
          // future compact of this directory until hand-repaired
          ()
      }
    }
    fs.delete(jp, false)
    true
  }

  /** Compaction — the lakehouse OPTIMIZE / rewrite-data-files step:
    * merge every FRAGMENTED bucket (≥ 2 data files) back to one
    * key-sorted file; single-file buckets are not rewritten, not
    * even read. That selectivity is the 100 TB contract: maintenance
    * cost is proportional to FRAGMENTATION (the files the recent
    * loads touched), never to table size — a steady-state table pays
    * only for its churn. The merge itself is the publish shape (one
    * hash repartition of the fragmented buckets' rows + local sort,
    * each bucket lands in exactly one task → exactly one file).
    *
    * Swap discipline (crash-safe, journaled): new files land in a
    * temp dir first; then a JOURNAL listing every planned swap
    * (merged file → destination, old files to delete) is created
    * atomically; then per bucket the merged file is RENAMED IN FIRST
    * and the old files deleted after; then the journal is removed.
    * A crash before the journal leaves the data untouched (plus an
    * orphan temp dir the next run overwrites); a crash anywhere
    * after it is healed by [[recoverCompact]], which the next
    * compact runs FIRST — it finishes the renames and deletes off
    * the journal before anything else touches the temp dir, so no
    * window exists where a bucket's only copy can be destroyed.
    * Readers racing a swap can still observe a bucket mid-replace
    * (old+new together — the known limitation of directory-listing
    * tables; [[Snapshots]]' manifest commit is the upgrade path that
    * removes even that).
    *
    * @return one [[CompactStat]] per bucket (touched or not). */
  def compact(spark: SparkSession, dir: String, bucketCol: String,
              sortCols: Seq[String], keyCol: String,
              blockSize: Long = 128L * 1024 * 1024): Seq[CompactStat] =
    compactImpl(spark, dir, bucketCol, sortCols, keyCol, blockSize,
      crashAfterSwaps = None, crashMidEntry = false)

  /** Test seam: `crashAfterSwaps = Some(k)` applies only the first k
    * buckets' swaps and then aborts (simulating a crash with the
    * journal in place); `crashMidEntry` additionally performs entry
    * k+1's RENAME but not its deletes (the tightest mid-swap
    * window). The LayoutSpec crash-recovery tests drive these. */
  private[graft] def compactImpl(spark: SparkSession, dir: String,
      bucketCol: String, sortCols: Seq[String], keyCol: String,
      blockSize: Long, crashAfterSwaps: Option[Int],
      crashMidEntry: Boolean): Seq[CompactStat] = {
    require(sortCols.nonEmpty, "compact needs the layout sort columns")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    // heal any crashed predecessor BEFORE planning (and before the
    // temp-dir overwrite below, which would otherwise destroy a
    // crashed run's merged files — the data-loss window this journal
    // exists to close)
    recoverCompact(fs, dir)
    val stats = rowGroupStats(spark, dir, keyCol)
    val byBucket = stats.groupBy(_.bucket.getOrElse(throw new IllegalArgumentException(
      "compact: found a data file outside a bucket directory")))
    val files = byBucket.map { case (b, ss) => b -> ss.map(_.path).distinct }
    val frag = files.filter(_._2.size >= 2)
    if (frag.nonEmpty) {
      val tmp = dir.stripSuffix("/") + "_compact_tmp"
      spark.read.option("basePath", dir).parquet(frag.values.flatten.toSeq: _*)
        .repartition(math.max(frag.size, 1), col(bucketCol))
        .sortWithinPartitions(col(bucketCol) +: sortCols.map(col): _*)
        .write.mode("overwrite")
        .option("parquet.block.size", blockSize)
        .partitionBy(bucketCol)
        .parquet(tmp)
      val entries = frag.toSeq.sortBy(_._1).map { case (b, oldFiles) =>
        val srcDir = new org.apache.hadoop.fs.Path(tmp, s"$bucketCol=$b")
        val merged = fs.listStatus(srcDir)
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
        require(merged.length == 1,
          s"compact: bucket $b merged into ${merged.length} files, expected 1")
        val dst = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(dir, s"$bucketCol=$b"),
          merged.head.getName)
        SwapEntry(b, merged.head.toString, dst.toString, oldFiles)
      }
      writeJournal(fs, dir, entries)
      entries.zipWithIndex.foreach { case (e, i) =>
        crashAfterSwaps.foreach { k =>
          if (i == k && !crashMidEntry)
            throw new IllegalStateException("compact: simulated crash (test seam)")
        }
        // rename the replacement IN first — from here the bucket
        // always holds at least one complete copy of its rows
        require(fs.rename(new org.apache.hadoop.fs.Path(e.tmpFile),
          new org.apache.hadoop.fs.Path(e.dstFile)),
          s"compact: rename failed for bucket ${e.bucket}")
        crashAfterSwaps.foreach { k =>
          if (i == k && crashMidEntry)
            throw new IllegalStateException("compact: simulated crash (test seam)")
        }
        e.oldFiles.foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), false))
      }
      fs.delete(journalPath(dir), false)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    byBucket.toSeq.sortBy(_._1).map { case (b, ss) =>
      // filesAfter MEASURED off the post-swap listing for rewritten
      // buckets (never assumed); untouched buckets keep their count
      val after =
        if (frag.contains(b))
          fs.listStatus(new org.apache.hadoop.fs.Path(dir, s"$bucketCol=$b"))
            .count(_.getPath.getName.endsWith(".parquet")).toLong
        else files(b).size.toLong
      CompactStat(b, files(b).size, after, ss.map(_.rowCount).sum)
    }
  }

  /** Per-row-group footer min/max statistics for an INT64 key column
    * across every data file under `dir` (recursing into `bucket=N`
    * partition directories). This is the metadata a scan planner's
    * row-group skip consults, read off the real footers. */
  def rowGroupStats(spark: SparkSession, dir: String,
                    keyCol: String): Seq[RowGroupStat] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(hconf)
    def dataFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) dataFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    rowGroupStatsFiles(spark, dataFiles(dirPath).map(_.getPath.toString), keyCol)
  }

  /** [[rowGroupStats]] for an EXPLICIT file list (a manifest read —
    * what a snapshot table's scan planner consults): stats carry the
    * caller's path strings verbatim so survivors map back 1:1, in
    * the caller's path order: the key half of [[statsWithKey]],
    * rethrowing its all-or-nothing failure. */
  def rowGroupStatsFiles(spark: SparkSession, paths: Seq[String],
                         keyCol: String): Seq[RowGroupStat] =
    statsWithKey(spark, paths, Some(keyCol), Nil)._1.get

  /** Typed per-FILE min/max for arbitrary scalar columns — the
    * generalized footer walk behind format 2.1's `#stat2` manifest
    * lines. Values are canonically ENCODED as strings so they ride
    * in meta lines: integer family incl. date/timestamp-micros as
    * decimal (kind "i"), float/double via Double.toString (kind "d",
    * skipped when NaN), string/binary as BASE64 of the raw bytes
    * (kind "s" — colon-proof, compared unsigned-byte-lexicographic,
    * parquet's own binary order; parquet may TRUNCATE long binary
    * stats, which stays conservative by its contract). A column with
    * absent/unusable statistics in ANY row group yields no entry for
    * that file — pruning then keeps the file (conservative). */
  case class TypedFileStat(path: String, column: String, rows: Long,
                           kind: String, min: String, max: String)

  def typedStatsFiles(spark: SparkSession, paths: Seq[String],
                      cols: Seq[String]): Seq[TypedFileStat] =
    typedStatsWithBlocks(spark, paths, cols)._1

  /** Typed PER-ROW-GROUP min/max — the footer detail behind format
    * 2.3's `#stat3` manifest lines (Iceberg's split-offsets +
    * column-bounds idea folded into one line family): `start`/`len`
    * are the row group's BYTE position and compressed size (the
    * block's identity, which the box scan checks agrees across the
    * predicate columns of one file), `rows` its row count. Same
    * value encodings as
    * [[TypedFileStat]] (kind i/d/s). */
  case class TypedRgStat(path: String, column: String, start: Long,
                         len: Long, rows: Long, kind: String,
                         min: String, max: String)

  /** One per-block statistic, canonically encoded (the single-block
    * half of [[typedStatsFiles]]' per-file fold). */
  private def blockStat(
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[(String, String, String)] = {
    import org.apache.parquet.column.statistics._
    if (st == null || st.isEmpty || !st.hasNonNullValue) None
    else st match {
      case l: LongStatistics =>
        Some(("i", l.getMin.toString, l.getMax.toString))
      case i: IntStatistics =>
        Some(("i", i.getMin.toString, i.getMax.toString))
      case d: DoubleStatistics =>
        if (d.getMin.isNaN || d.getMax.isNaN) None
        else Some(("d", d.getMin.toString, d.getMax.toString))
      case f: FloatStatistics =>
        if (f.getMin.isNaN || f.getMax.isNaN) None
        else Some(("d", f.getMin.toDouble.toString, f.getMax.toDouble.toString))
      case b: BinaryStatistics =>
        val enc = java.util.Base64.getEncoder
        Some(("s", enc.encodeToString(b.genericGetMin.getBytes),
          enc.encodeToString(b.genericGetMax.getBytes)))
      case _ => None
    }
  }

  /** The per-row-group typed footer walk ([[typedStatsFiles]]' block
    * granularity): ONLY files with ≥ 2 row groups yield entries — a
    * single-group file's row-group stat IS its file stat, so
    * recording it would double the manifest for nothing. */
  def typedRgStatsFiles(spark: SparkSession, paths: Seq[String],
                        cols: Seq[String]): Seq[TypedRgStat] =
    typedStatsWithBlocks(spark, paths, cols)._2

  /** ONE footer walk emitting the LAYOUT KEY's per-row-group stats
    * AND both typed granularities — the staging path's single
    * metadata pass (guide §6: footer I/O is priced per open; the
    * key walk and the typed walk each opened every staged file).
    * The key half keeps [[rowGroupStatsFiles]]' ALL-OR-NOTHING
    * contract — any file whose key column is missing or non-long
    * yields Failure and the caller records NO key stat lines (a
    * partial set would make unlisted files invisible to pruning);
    * the typed half is per-(file, column) conservative exactly as
    * [[typedStatsWithBlocks]]. Every footer reader here delegates to
    * this walk. Footer opens are independent, IO-latency-bound
    * metadata reads, so they run concurrently through [[graft.Par]]
    * (at most 16 threads); results keep the caller's path order, and
    * a failing open (e.g. a missing file) surfaces its own exception
    * whatever the file count. */
  def statsWithKey(spark: SparkSession, paths: Seq[String],
                   keyCol: Option[String], cols: Seq[String])
      : (scala.util.Try[Seq[RowGroupStat]], Seq[TypedFileStat],
         Seq[TypedRgStat]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def one(p0: String): (scala.util.Try[Seq[RowGroupStat]],
        Seq[TypedFileStat], Seq[TypedRgStat]) = {
      val p = new org.apache.hadoop.fs.Path(p0)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        val keyStats = keyCol match {
          case None => scala.util.Success(Seq.empty[RowGroupStat])
          case Some(k) => scala.util.Try {
            val bucket = p.getParent.getName match {
              case s if s.contains("=") =>
                scala.util.Try(s.substring(s.indexOf('=') + 1).toLong).toOption
              case _ => None
            }
            blocks.map { b =>
              val st = b.getColumns.asScala
                .find(_.getPath.toDotString == k)
                .getOrElse(throw new IllegalArgumentException(
                  s"rowGroupStats: no column '$k' in $p0"))
                .getStatistics
                .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
              RowGroupStat(p0, bucket, b.getRowCount, st.getMin, st.getMax)
            }
          }
        }
        val (fileB, rgB) = typedOfBlocks(p0, blocks, cols)
        (keyStats, fileB, rgB)
      } finally rd.close()
    }
    val res = graft.Par.all(spark, "Layout.footers")(paths.map(p0 => () => one(p0)))
    val keyAll = scala.util.Try(res.flatMap(_._1.get))
    (keyAll, res.flatMap(_._2), res.flatMap(_._3))
  }

  /** The typed per-(file, column) claim fold over an already-open
    * footer's blocks — [[statsWithKey]]'s typed half. */
  private def typedOfBlocks(p0: String,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): (Seq[TypedFileStat], Seq[TypedRgStat]) = {
    val rows = blocks.map(_.getRowCount).sum
    val fileB = Seq.newBuilder[TypedFileStat]
    val rgB = Seq.newBuilder[TypedRgStat]
    cols.foreach { c =>
      val per = blocks.map(b =>
        b.getColumns.asScala.find(_.getPath.toDotString == c)
          .flatMap(cc => blockStat(cc.getStatistics)))
      if (per.forall(_.isDefined) &&
          per.flatten.map(_._1).distinct.size == 1) {
        val claims = per.map(_.get)
        val kind = claims.head._1
        val (mn, mx) = kind match {
          case "i" =>
            (claims.map(_._2.toLong).min.toString,
             claims.map(_._3.toLong).max.toString)
          case "d" =>
            (claims.map(_._2.toDouble).min.toString,
             claims.map(_._3.toDouble).max.toString)
          case _ =>
            val dec = java.util.Base64.getDecoder
            val enc = java.util.Base64.getEncoder
            (enc.encodeToString(claims.map(s => dec.decode(s._2))
               .reduce((a, b) => if (bytesLt(a, b)) a else b)),
             enc.encodeToString(claims.map(s => dec.decode(s._3))
               .reduce((a, b) => if (bytesLt(a, b)) b else a)))
        }
        fileB += TypedFileStat(p0, c, rows, kind, mn, mx)
        if (blocks.size >= 2)
          claims.zip(blocks).foreach { case ((k, bmn, bmx), b) =>
            rgB += TypedRgStat(p0, c, b.getStartingPos,
              b.getCompressedSize, b.getRowCount, k, bmn, bmx)
          }
      }
    }
    (fileB.result(), rgB.result())
  }

  /** ONE footer walk emitting BOTH stat granularities — the per-FILE
    * `#stat2` fold and the per-ROW-GROUP `#stat3` detail
    * ([[typedStatsFiles]] / [[typedRgStatsFiles]] delegate here;
    * staging calls it once): two separate walks would double the
    * metadata round trips per staged file exactly where footer I/O
    * is priced per open (object stores). Per (file, column) the
    * claim is ALL-OR-NOTHING: every block must carry usable
    * statistics of ONE kind, else NEITHER family claims — the file
    * stat is the fold of its block stats (same canonical encodings),
    * and consumers of the block detail may treat a recorded set as
    * the file's COMPLETE block list (a file whose every recorded
    * block fails DROPS — [[Snapshots.prunedFilesBoxRg]]), which only
    * the all-or-nothing rule makes safe. Block detail is recorded
    * only for multi-row-group files. The typed half of
    * [[statsWithKey]]. */
  def typedStatsWithBlocks(spark: SparkSession, paths: Seq[String],
                           cols: Seq[String])
      : (Seq[TypedFileStat], Seq[TypedRgStat]) = {
    val (_, fileStats, rgStats) = statsWithKey(spark, paths, None, cols)
    (fileStats, rgStats)
  }

  /** Unsigned byte-lexicographic a < b (parquet binary stat order). */
  private[graft] def bytesLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** The files whose footer stats intersect [lo, hi) — the min/max
    * skip decision, made from [[rowGroupStats]] output. */
  def survivingFiles(stats: Seq[RowGroupStat], lo: Long, hi: Long): Seq[String] =
    stats.filter(s => s.max >= lo && s.min < hi).map(_.path).distinct

  /** Footer-pruned range scan: read ONLY the files whose min/max
    * intersect [lo, hi), then apply the residual predicate. Returns
    * the same rows as a full-table `keyCol in [lo, hi)` filter (the
    * spec and the q156 gate prove it) while touching I/O proportional
    * to the key range. An empty survivor set yields an empty frame
    * with the full-scan schema. */
  def prunedScan(spark: SparkSession, dir: String, keyCol: String,
                 lo: Long, hi: Long,
                 stats: Option[Seq[RowGroupStat]] = None): DataFrame = {
    val st = stats.getOrElse(rowGroupStats(spark, dir, keyCol))
    val files = survivingFiles(st, lo, hi)
    val residual = col(keyCol) >= lo && col(keyCol) < hi
    if (files.isEmpty)
      spark.read.parquet(dir).filter(residual).limit(0)
    else
      spark.read.parquet(files: _*).filter(residual)
  }
}
