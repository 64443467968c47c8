package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PARTITION EVOLUTION on snapshot tables — re-bucket a table's
  * layout width WITHOUT rewriting history. A bucketed table derives
  * its bucket from the layout key (`bucket = key div width`) instead
  * of taking a caller-supplied column, and the WIDTH is table
  * metadata (`#bucketw` in each manifest) that [[evolveWidth]]
  * changes with a METADATA-ONLY commit: existing files keep their
  * epoch's layout untouched, new loads bucket at the new width, and
  * [[compact]] is the migrator that folds old-epoch files into the
  * current width as maintenance — never as a blocking rewrite.
  *
  * Why this is nearly free here: scan planning and MERGE never
  * consult bucket arithmetic at all — they plan from the manifest's
  * per-file key min/max ([[Snapshots]] `#stat` lines), which are
  * epoch-independent. Pruned scans therefore work unchanged across
  * epoch boundaries, and [[merge]] picks its rewrite set as "files
  * whose key RANGE intersects the update keys" (broadcast range join
  * of the manifest-sized stats list against the updates) — FINER
  * than bucket matching, and correct whatever width each file was
  * written under. Bucket width is exactly what it should be: a
  * write-side layout knob (file sizing / pruning resolution), not a
  * correctness surface.
  *
  * Per-file epochs ride in the manifest as `#filew:<width>:<rel>`
  * lines, so [[compact]] knows which files predate the current width
  * without opening any of them, and [[fileWidths]] exposes the epoch
  * census for gates/specs.
  *
  * This object supplies only the placement arithmetic (`placement`:
  * the range locate, `key div width`, the `#filew` lines); staging,
  * the merge pipeline, the manifest carry rule and every commit are
  * [[Snapshots]]' ([[Snapshots.mergeImpl]], [[Snapshots.carriedLines]]).
  *
  * Keys must be non-negative integers (`div` bucketing); the derived
  * bucket column ([[BCol]]) is materialized in the data files —
  * [[read]] drops it, and its per-file constancy IS the epoch's
  * layout, inspectable.
  *
  * Scale shape: evolveWidth is O(manifest); merge cost ∝ the key
  * ranges the updates touch (at most what bucket-matching rewrote,
  * usually less); compact cost ∝ old-epoch + fragmented data only.
  */
object BucketedTable {

  /** The derived bucket column materialized in the data files. */
  val BCol = "__gbucket"

  private def withBucket(df: DataFrame, keyCol: String, w: Long): DataFrame =
    df.withColumn(BCol, expr(s"$keyCol div $w"))

  /** (keyCol, width) currently in force, from the latest manifest. */
  def currentWidth(spark: SparkSession, dir: String): (String, Long) = {
    val v = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    widthAt(spark, dir, v)
  }

  private def widthAt(spark: SparkSession, dir: String, v: Long): (String, Long) =
    widthOf(Snapshots.committedManifest(spark, dir, v), s"$dir version $v")

  private def widthOf(m: Snapshots.Manifest, what: String): (String, Long) =
    m.metaValues("bucketw").headOption
      .map { s =>
        val Array(k, w) = s.split(":", 2)
        (k, w.toLong)
      }
      .getOrElse(throw new IllegalArgumentException(
        s"$what is not a bucketed table (no #bucketw metadata)"))

  /** Per-file write-epoch widths of version `v` (manifest-only). */
  def fileWidths(spark: SparkSession, dir: String, v: Long): Map[String, Long] =
    Snapshots.committedManifest(spark, dir, v).metaValues("filew").map { s =>
      val Array(w, rel) = s.split(":", 2)
      rel -> w.toLong
    }.toMap

  /** This layout's placement at the manifest's width: rows bucket at
    * `key div width`; a key batch locates the files whose recorded key
    * RANGE intersects it — one broadcast range join of the
    * manifest-sized stats list, folded with the NULL-key guard. */
  private def placement(dir: String)(pm: Snapshots.Manifest): Snapshots.Placement = {
    val (keyCol, w) = widthOf(pm, dir)
    Snapshots.Placement(BCol, Seq(keyCol), Seq(keyCol), (pm, marked) => {
      val spark = marked.sparkSession
      import spark.implicits._
      val ranges = Snapshots.versionStats(spark, dir, pm, keyCol)
        .map(s => (s.path.stripPrefix(s"$dir/"), s.min, s.max))
        .toDF("__file", "__mn", "__mx")
      // a row matching no range keeps a NULL file (left outer), so
      // the marker sum is positive iff update rows exist
      val rows = marked.join(broadcast(ranges),
          col(keyCol) >= col("__mn") && col(keyCol) <= col("__mx"), "left_outer")
        .groupBy(col("__file"))
        .agg(sum(col(keyCol).isNull.cast("long")), sum(col(Snapshots.UpdMark)))
        .collect()
      require(rows.forall(_.getLong(1) == 0L),
        s"merge: update rows carry NULL $keyCol values")
      val touched = rows.filterNot(_.isNullAt(0)).map(_.getString(0)).toSet
      Snapshots.Located(pm.files.filter(touched), rows.map(_.getLong(2)).sum)
    }, place = rows => withBucket(rows.drop(BCol), keyCol, w),
      derived = Seq(BCol), epochLines = _.map(r => s"filew:$w:$r"))
  }

  /** Publish the first version, bucketing `keyCol div width`. */
  def publish(df: DataFrame, dir: String, keyCol: String, width: Long,
              sortCols: Seq[String] = Nil,
              blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long = {
    require(width > 0, "bucket width must be positive")
    Snapshots.publishImpl(withBucket(df, keyCol, width), dir, BCol,
      if (sortCols.nonEmpty) sortCols else Seq(keyCol), blockSize, numTasks,
      Seq(s"bucketw:$keyCol:$width"), epochLines = _.map(r => s"filew:$width:$r"))
  }

  /** Incremental load at the CURRENT width (new files join the
    * current epoch; older epochs' files are untouched). */
  def append(df: DataFrame, dir: String,
             blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long =
    Snapshots.appendImpl(df, dir, placement(dir), blockSize, numTasks)

  /** Change the bucket width — a METADATA-ONLY commit: the new
    * manifest lists the SAME files with the same stats and epochs,
    * only `#bucketw` changes. O(manifest) however large the table;
    * subsequent loads bucket at the new width; [[compact]] migrates
    * old epochs when maintenance chooses to. */
  def evolveWidth(spark: SparkSession, dir: String, newWidth: Long): Long = {
    require(newWidth > 0, "bucket width must be positive")
    Snapshots.redeclare(spark, dir, "bucketw:")(pm =>
      s"bucketw:${widthOf(pm, dir)._1}:$newWidth")
  }

  /** MERGE across epochs — upsert where the rewrite set is chosen by
    * the manifest STATS, not bucket arithmetic: a file is rewritten
    * iff its key range intersects the update keys (one broadcast
    * range join of the manifest-sized stats list against the
    * updates). Rewritten rows restage at the CURRENT width —
    * touched data migrates as a side effect; untouched files (any
    * epoch) are shared byte-for-byte. No persist of the update batch:
    * the path is updates-only (see [[Snapshots.mergeImpl]]) — a
    * caller with an expensive batch DAG persists it itself. */
  def merge(updates: DataFrame, dir: String, keyCols: Seq[String],
            blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long = {
    val (keyCol, _) = currentWidth(updates.sparkSession, dir)
    require(keyCols.contains(keyCol),
      s"merge keys must include the layout key $keyCol")
    Snapshots.mergeImpl(Some(updates), None, dir, placement(dir), keyCols,
      blockSize, numTasks)
  }

  /** Compaction = the epoch MIGRATOR: rewrite, into one file per
    * current-width bucket, every file that (a) predates the current
    * width, (b) holds a current-epoch bucket the MIGRATING data will
    * land in (otherwise migration would CREATE fragmentation there —
    * the landing buckets come from the stale files' manifest stats,
    * zero data opens), or (c) shares its current-epoch bucket with
    * another file. Fully-migrated single-file buckets are not
    * touched, not even read — maintenance stays ∝ old-epoch +
    * fragmented data. Returns the previous version when there is
    * nothing to do. */
  def compact(spark: SparkSession, dir: String,
              blockSize: Long = 128L * 1024 * 1024): Long = {
    val (prev, pm) = Snapshots.writeHead(spark, dir)
    val (keyCol, w) = widthOf(pm, dir)
    val epochs = fileWidths(spark, dir, prev)
    val stale = pm.files.filter(f => !epochs.get(f).contains(w))
    val current = pm.files.filterNot(stale.contains)
    // where the stale files' keys will land, from manifest stats
    val ranges = Snapshots.versionStats(spark, dir, pm, keyCol)
      .map(s => s.path.stripPrefix(s"$dir/") -> ((s.min, s.max))).toMap
    val landing = stale.flatMap(f =>
      ranges.get(f).toSeq.flatMap { case (mn, mx) => (mn / w) to (mx / w) }).toSet
    // a stale file without stats has unknown landing buckets: be
    // conservative and pull every current file into the rewrite
    val conflict =
      if (stale.exists(f => !ranges.contains(f))) current
      else current.filter(f => Snapshots.fileBucket(f).exists(landing.contains))
    val frag = current.groupBy(f =>
        Snapshots.fileBucket(f).getOrElse(-1L))
      .filter(_._2.size >= 2).values.flatten.toSeq
    // DV-bearing files rewrite too: the DV-filtered read MATERIALIZES
    // the deletes and their lines drop with the files
    val dvFiles = pm.files.filter(pm.dvs.contains)
    val rewrite = (stale ++ conflict ++ frag ++ dvFiles).distinct.sorted
    if (rewrite.isEmpty) return prev
    Snapshots.restage(spark, dir, pm, prev, rewrite, placement(dir)(pm),
      blockSize, 32)
  }

  /** Props-driven maintenance for width-bucketed tables
    * ([[Snapshots.maintain]]'s core with THIS layout's compactor —
    * the landing-bucket-aware migrator). */
  def maintain(spark: SparkSession, dir: String,
               retainMs: Long = Snapshots.DefaultRetainMs,
               blockSize: Long = 128L * 1024 * 1024): Snapshots.Maintenance =
    Snapshots.maintainImpl(spark, dir, retainMs,
      () => compact(spark, dir, blockSize))

  /** Read version `v` (time travel), derived bucket dropped. */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame =
    Snapshots.readAt(spark, dir, v).drop(BCol)

  /** Read the latest version, derived bucket dropped. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Snapshots.read(spark, dir).drop(BCol)

  /** Stats-pruned range scan at version `v` — works UNCHANGED across
    * epoch boundaries (pruning consults per-file min/max, never
    * bucket arithmetic). */
  def prunedScanAt(spark: SparkSession, dir: String, v: Long,
                   lo: Long, hi: Long): DataFrame = {
    val (keyCol, _) = widthAt(spark, dir, v)
    Snapshots.prunedScanAtBy(spark, dir, v, keyCol, lo, hi).drop(BCol)
  }
}
