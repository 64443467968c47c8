package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HASH-bucketed snapshot tables — [[BucketedTable]]'s sibling for
  * NON-RANGE keys (string ids, urls, uuids): the bucket is DERIVED as
  * `pmod(xxhash64(key), n)` and the bucket count `n` is table
  * metadata (`#bucketh`) that [[evolveBuckets]] changes with a
  * METADATA-ONLY commit, per-file epochs riding as `#fileh` lines.
  *
  * The planning story deliberately differs from the range table's:
  * a hash layout SCATTERS keys, so per-file key-range stats cannot
  * discriminate (every bucket's min/max spans the key space) — all
  * point planning here is HASH ARITHMETIC per epoch instead, which
  * is exact and manifest-only:
  *  - [[merge]]/[[delete]] pick their rewrite set by hashing the
  *    update keys at EVERY epoch's modulus in one grouped fold per
  *    merge over the batch, then matching the files' path buckets —
  *    cost ∝ batch + touched data, correct across any epoch mix;
  *    rewritten rows restage at the CURRENT modulus (touched data
  *    migrates as a side effect).
  *  - [[lookupAt]] (the point-read a hash layout exists for) reads,
  *    per epoch, only the buckets the probe keys hash to.
  *  - [[compact]] migrates stale epochs: landing buckets are
  *    computed by ONE scan of the STALE files only (data that must
  *    be rewritten anyway), then current-epoch files in colliding or
  *    fragmented buckets join the rewrite — maintenance ∝ old-epoch
  *    + fragmented data, never table size.
  *
  * Keys are strings — ENFORCED at every hashing path (cast your key
  * to string upstream; see `requireStringKey` for why a widenable
  * key type would silently corrupt rewrite sets); the modulus must
  * be positive. The derived bucket column ([[BCol]]) is materialized
  * in the files and dropped by [[read]].
  *
  * This object supplies only the placement arithmetic (`placement`:
  * the per-epoch hash locate, the current modulus, the `#fileh`
  * lines); staging, the merge pipeline, the manifest carry rule and
  * every commit are [[Snapshots]]' ([[Snapshots.mergeImpl]],
  * [[Snapshots.carriedLines]]).
  */
object HashBucketedTable {

  /** The derived hash-bucket column materialized in the data files. */
  val BCol = "__ghbucket"

  /** ENFORCE the string-key contract, not just state it: Spark's
    * `xxhash64` is TYPE-dispatched (IntegerType hashes 4 bytes,
    * LongType 8 — same value, different hash), so a non-string key
    * composed with the format's own type WIDENING (int→long is a
    * legal merge) would hash a batch's widened keys differently from
    * the genesis files' — the per-epoch rewrite arithmetic would then
    * read the WRONG buckets, the anti-join would miss matching rows,
    * and the table would keep BOTH versions of a key alive: a silent
    * lost update. StringType cannot widen (no widening involves
    * strings, [[Snapshots.widens]]), which is what makes the hash
    * stable across the table's whole life. Checked at every path
    * that hashes (publish, append, merge/delete), like
    * [[ZOrderTable]]'s LongType grid requirement. */
  private def requireStringKey(df: DataFrame, keyCol: String): Unit = {
    require(df.columns.contains(keyCol), s"missing key column $keyCol")
    require(df.schema(keyCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"hash-bucketed key $keyCol must be StringType (got " +
        s"${df.schema(keyCol).dataType.simpleString}) — xxhash64 is " +
        "type-dispatched, so a widenable key type would silently " +
        "corrupt the per-epoch rewrite arithmetic; cast upstream")
  }

  private def withBucket(df: DataFrame, keyCol: String, n: Long): DataFrame = {
    requireStringKey(df, keyCol)
    df.withColumn(BCol, pmod(xxhash64(col(keyCol)), lit(n)))
  }

  /** (keyCol, modulus) currently in force, from the latest manifest. */
  def currentBuckets(spark: SparkSession, dir: String): (String, Long) = {
    val v = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    bucketsAt(spark, dir, v)
  }

  private def bucketsAt(spark: SparkSession, dir: String, v: Long): (String, Long) =
    bucketsOf(Snapshots.committedManifest(spark, dir, v), s"$dir version $v")

  private def bucketsOf(m: Snapshots.Manifest, what: String): (String, Long) =
    m.metaValues("bucketh").headOption
      .map { s =>
        val Array(k, n) = s.split(":", 2)
        (k, n.toLong)
      }
      .getOrElse(throw new IllegalArgumentException(
        s"$what is not a hash-bucketed table (no #bucketh metadata)"))

  /** Per-file write-epoch moduli of version `v` (manifest-only). */
  def fileBuckets(spark: SparkSession, dir: String, v: Long): Map[String, Long] =
    fileBuckets(Snapshots.committedManifest(spark, dir, v))

  /** The same epoch census off an in-hand manifest — the ONE parse of
    * the `#fileh` line grammar. */
  private def fileBuckets(m: Snapshots.Manifest): Map[String, Long] =
    m.metaValues("fileh").map { s =>
      val Array(n, rel) = s.split(":", 2)
      rel -> n.toLong
    }.toMap

  /** Publish the first version at `numBuckets`. */
  def publish(df: DataFrame, dir: String, keyCol: String, numBuckets: Long,
              blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long = {
    require(numBuckets > 0, "bucket count must be positive")
    Snapshots.publishImpl(withBucket(df, keyCol, numBuckets), dir, BCol,
      Seq(keyCol), blockSize, numTasks, Seq(s"bucketh:$keyCol:$numBuckets"),
      epochLines = _.map(r => s"fileh:$numBuckets:$r"))
  }

  /** This layout's placement at the manifest's modulus: rows bucket at
    * `pmod(xxhash64(key), n)`, and a key batch locates its files by
    * every epoch's hash arithmetic ([[hashFiles]]), NULL keys refused. */
  private def placement(dir: String)(pm: Snapshots.Manifest): Snapshots.Placement = {
    val (keyCol, n) = bucketsOf(pm, dir)
    Snapshots.Placement(BCol, Seq(keyCol), Seq(keyCol), (pm, marked) => {
      val (files, nullKeys, updRows) =
        hashFiles(pm, keyCol, marked, col(Snapshots.UpdMark))
      require(
        if (nullKeys >= 0L) nullKeys == 0L
        else marked.filter(col(keyCol).isNull).isEmpty,
        s"update/delete rows carry NULL $keyCol values")
      Snapshots.Located(files, updRows)
    }, place = rows => withBucket(rows.drop(BCol), keyCol, n),
      derived = Seq(BCol), epochLines = _.map(r => s"fileh:$n:$r"))
  }

  /** Incremental load at the CURRENT modulus. */
  def append(df: DataFrame, dir: String,
             blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long =
    Snapshots.appendImpl(df, dir, placement(dir), blockSize, numTasks)

  /** Change the bucket COUNT — a METADATA-ONLY commit (same files,
    * same epochs, only `#bucketh` changes). O(manifest). */
  def evolveBuckets(spark: SparkSession, dir: String, newN: Long): Long = {
    require(newN > 0, "bucket count must be positive")
    Snapshots.redeclare(spark, dir, "bucketh:")(pm =>
      s"bucketh:${bucketsOf(pm, dir)._1}:$newN")
  }

  /** Every epoch's bucket arithmetic from ONE grouped fold (guide
    * §1.2): the key batch groups by the TUPLE of its per-modulus
    * buckets (bounded by the batch's distinct keys and by the moduli
    * product), each epoch's bucket set is a projection of the tuples
    * matched against the files' path buckets, and the same fold
    * carries a NULL-key count plus a `marker` sum (the update-row
    * count of a merge). Zero data-file opens; unknown epochs stay
    * conservative. The two counts are -1 when no positive epoch exists
    * (no fold ran — callers fall back to their own actions). */
  private def hashFiles(pm: Snapshots.Manifest, keyCol: String,
      keysDf: DataFrame, marker: Column): (Seq[String], Long, Long) = {
    requireStringKey(keysDf, keyCol) // probe keys hash too
    val epochs = fileBuckets(pm)
    val byEpoch = pm.files.groupBy(f => epochs.getOrElse(f, -1L))
    val moduli = byEpoch.keys.filter(_ > 0).toSeq.sorted
    if (moduli.isEmpty)
      return (pm.files, -1L, -1L) // all epochs unknown: conservative
    val bCols = moduli.map(n =>
      pmod(xxhash64(col(keyCol)), lit(n)).as(s"__gh_b$n"))
    val rows = keysDf.select(bCols ++ Seq(
        col(keyCol).isNull.cast("long").as("__gh_nul"),
        marker.as("__gh_u")): _*)
      .groupBy(moduli.map(n => col(s"__gh_b$n")): _*)
      .agg(sum(col("__gh_nul")).as("__gh_nuls"),
        sum(col("__gh_u")).as("__gh_us"))
      .collect()
    val nulls = rows.map(_.getLong(moduli.size)).sum
    val markerSum = rows.map(_.getLong(moduli.size + 1)).sum
    val files = byEpoch.toSeq.flatMap { case (n, files) =>
      if (n <= 0) files // unknown epoch: conservative, rewrite/read it
      else {
        val i = moduli.indexOf(n)
        val touched = rows.map(_.getLong(i)).toSet
        files.filter(f => Snapshots.fileBucket(f).exists(touched.contains))
      }
    }
    (files, nulls, markerSum)
  }

  /** MERGE (upsert) across epochs: the rewrite set is the union over
    * epochs of the buckets the update keys hash to at THAT epoch's
    * modulus. Rewritten rows restage at the CURRENT modulus. */
  def merge(updates: DataFrame, dir: String, keyCols: Seq[String],
            blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long =
    rewrite(Some(updates), None, dir, keyCols, blockSize, numTasks)

  /** DELETE rows by key (see [[Snapshots.delete]] for semantics);
    * rewrite set by per-epoch hash arithmetic like [[merge]].
    * COPY-ON-WRITE — for a scattered erasure use [[deleteVectored]]
    * (metadata-only, zero rewrites). */
  def delete(keys: DataFrame, dir: String, keyCols: Seq[String],
             blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32): Long =
    rewrite(None, Some(keys), dir, keyCols, blockSize, numTasks)

  /** MERGE-ON-READ delete on a hash table
    * ([[Snapshots.deleteVectored]] through THIS layout's per-epoch
    * hash arithmetic — the same candidate selection [[merge]] and
    * [[lookupAt]] plan with): matched rows' positions commit as `#dv`
    * lines, ZERO buckets rewritten. A hash layout SCATTERS keys by
    * construction, so a multi-key erasure touches ~every bucket —
    * exactly the shape where copy-on-write [[delete]] degenerates to
    * a full-table rewrite and this stays a manifest line. */
  def deleteVectored(keys: DataFrame, dir: String,
                     keyCols: Seq[String]): Long = {
    requireLayoutKey(keys.sparkSession, dir, keyCols)
    Snapshots.deleteVectoredBy(keys, dir, keyCols, pm =>
      Snapshots.locateFiles(placement(dir)(pm), pm, keys))
  }

  private def requireLayoutKey(spark: SparkSession, dir: String,
                               keyCols: Seq[String]): Unit = {
    val (keyCol, _) = currentBuckets(spark, dir)
    require(keyCols.contains(keyCol),
      s"merge/delete keys must include the layout key $keyCol")
  }

  private def rewrite(updates: Option[DataFrame], deletes: Option[DataFrame],
                      dir: String, keyCols: Seq[String], blockSize: Long,
                      numTasks: Int): Long = {
    requireLayoutKey(updates.orElse(deletes).get.sparkSession, dir, keyCols)
    Snapshots.mergeImpl(updates, deletes, dir, placement(dir), keyCols,
      blockSize, numTasks)
  }

  /** Size the migrator's rewrite by the manifest's recorded BYTES, not
    * a constant — a migration of N gigabytes wants N/bytesPerTask
    * writers, however many files it came from — but ONLY when the
    * manifest's `#fsize` lines actually COVER the rewrite set (the
    * [[JoinPlanner.suggestTasksFor]] dispatch): a legacy manifest
    * without them would sum to ~0 and collapse a whole-table epoch
    * migration to ONE writer task; fall back to the write default. */
  private[graft] def compactTasks(pm: Snapshots.Manifest,
                                  rewrite: Seq[String]): Int =
    if (rewrite.forall(pm.fileSizes.contains))
      JoinPlanner.suggestTasksBytes(rewrite.map(pm.fileSizes).sum)
    else 32

  /** Compaction = the epoch MIGRATOR: rewrite every stale-epoch file,
    * every current-epoch file in a bucket the migrating rows land in
    * (landing buckets computed by ONE scan of the STALE files only —
    * data being rewritten anyway), and every fragmented bucket.
    * Returns the previous version when there is nothing to do. */
  def compact(spark: SparkSession, dir: String,
              blockSize: Long = 128L * 1024 * 1024): Long = {
    val (prev, pm) = Snapshots.writeHead(spark, dir)
    val (keyCol, n) = bucketsOf(pm, dir)
    val epochs = fileBuckets(pm)
    val stale = pm.files.filter(f => !epochs.get(f).contains(n))
    val current = pm.files.filterNot(stale.contains)
    val landing: Set[Long] =
      if (stale.isEmpty) Set.empty
      else Snapshots.readFiles(spark, dir, stale, pm.schemaOpt, pm.colMap,
        pm.fileSizes, dv = pm.dvs)
        .select(pmod(xxhash64(col(keyCol)), lit(n)).as("b"))
        .distinct().collect().map(_.getLong(0)).toSet
    val conflict = current.filter(f =>
      Snapshots.fileBucket(f).exists(landing.contains))
    val frag = current.groupBy(f => Snapshots.fileBucket(f).getOrElse(-1L))
      .filter(_._2.size >= 2).values.flatten.toSeq
    // DV-bearing files rewrite too (materialize + drop the line)
    val dvFiles = pm.files.filter(pm.dvs.contains)
    val rewrite = (stale ++ conflict ++ frag ++ dvFiles).distinct.sorted
    if (rewrite.isEmpty) return prev
    Snapshots.restage(spark, dir, pm, prev, rewrite, placement(dir)(pm),
      blockSize, compactTasks(pm, rewrite))
  }

  /** POINT LOOKUP at version `v` — the read shape hash bucketing
    * exists for: per epoch, read ONLY the buckets the probe keys
    * hash to (manifest-only planning: path buckets × epoch moduli),
    * then the exact residual semi-join. */
  def lookupAt(spark: SparkSession, dir: String, v: Long,
               keys: Seq[String]): DataFrame = {
    import spark.implicits._
    val pm = Snapshots.committedManifest(spark, dir, v)
    val (keyCol, _) = bucketsAt(spark, dir, v)
    val keysDf = keys.toDF(keyCol)
    val files = hashFiles(pm, keyCol, keysDf, lit(0L))._1
    val base =
      if (files.isEmpty)
        Snapshots.readFiles(spark, dir, pm.files, pm.schemaOpt,
          sizes = pm.fileSizes, dv = pm.dvs).limit(0)
      else Snapshots.readFiles(spark, dir, files.sorted, pm.schemaOpt,
        sizes = pm.fileSizes, dv = pm.dvs)
    base.join(broadcast(keysDf), Seq(keyCol), "left_semi").drop(BCol)
  }

  /** Read version `v` (time travel), derived bucket dropped. */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame =
    Snapshots.readAt(spark, dir, v).drop(BCol)

  /** Props-driven maintenance for hash tables ([[Snapshots.maintain]]'s
    * core with THIS layout's compactor — the epoch migrator). */
  def maintain(spark: SparkSession, dir: String,
               retainMs: Long = Snapshots.DefaultRetainMs,
               blockSize: Long = 128L * 1024 * 1024): Snapshots.Maintenance =
    Snapshots.maintainImpl(spark, dir, retainMs,
      () => compact(spark, dir, blockSize))

  /** Read the latest version, derived bucket dropped. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Snapshots.read(spark, dir).drop(BCol)
}
