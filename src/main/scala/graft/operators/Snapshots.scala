package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Manifest-committed snapshot tables — the atomicity upgrade path
  * [[Layout.compact]]'s docstring names, built: a table is a
  * sequence of VERSIONS, each a manifest file listing exactly the
  * data files that version reads. Writers stage data files first
  * and publish them with ONE atomic manifest create; readers resolve
  * a manifest and never see a write in flight. This is the public
  * table-format core (Delta/Iceberg-class, minus their schema/txn
  * extras): snapshot isolation, time travel, compaction that never
  * breaks a concurrent reader, and vacuum as the ONLY operation
  * that deletes data.
  *
  * Commit protocol: data files land under `dir/data/<token>/…`
  * (token unique per write — staging is invisible until committed),
  * then the manifest `dir/_manifests/v<n>` is created with
  * create-EXCLUSIVE semantics: claiming version n is atomic, two
  * racing writers cannot both win it, and a loser retries against
  * the new latest. A crash BEFORE the manifest create leaves the
  * previous version fully readable plus orphaned staging files that
  * [[vacuum]] sweeps; there is no state in between.
  *
  * Manifest format (v2): alongside the file list, each manifest
  * carries `#`-prefixed META that makes planning manifest-only —
  *  - `#schema:<json>`  the version's logical schema. Reads pass it
  *    as the EXPLICIT parquet read schema, so any file mix (tokens,
  *    schema epochs) reads in ONE `spark.read.parquet(files:_*)`
  *    relation — no per-token partition discovery, no unionByName
  *    chain growing with commit count, and files that predate a
  *    column null-fill it natively (additive evolution).
  *  - `#stat:<key>:<rows>:<min>:<max>:<relpath>`  per-FILE min/max
  *    of the layout key, footer-walked at WRITE time over ONLY the
  *    newly staged files and carried forward for kept files — so
  *    [[prunedScanAtBy]]/[[versionStats]] plan from the manifest alone
  *    with ZERO data-file opens (the Delta/Iceberg stats-in-metadata
  *    shape; the footer walk remains as the verification path).
  *  - `#batch:<id>`  the exactly-once sink's ledger entry.
  * The bucket value is stored as a DATA column (the staging write
  * duplicates it into the `__bdir=N` directory for layout); reads
  * never need partition discovery to recover it, and its original
  * type survives.
  *
  * Scale shape (100 TB): a manifest is one small file per commit —
  * reading it is O(files listed); scan PLANNING is a pure manifest
  * read (no footer opens — at a million files the difference is
  * hours); data moves only in the staged writes themselves.
  * [[compact]] stages merged files for FRAGMENTED buckets only and
  * the new manifest re-points those buckets — old versions keep
  * reading the old files untouched (maintenance ∝ churn, readers
  * ∝ nothing).
  */
object Snapshots {

  /** Directory-partition column name used by the staging write — the
    * bucket value itself stays in the data (see class doc). */
  private[graft] val DirCol = "__bdir"

  /** Default [[vacuum]] retention: data files younger than this are
    * never swept as orphans, so a vacuum racing an in-flight writer
    * cannot delete files the writer has staged but not yet committed
    * (the Delta/Iceberg retention-threshold guard). Tests and
    * exclusive-access maintenance pass 0 explicitly. */
  val DefaultRetainMs: Long = 7L * 24 * 3600 * 1000

  /** The pluggable atomic-claim primitive every manifest commit and
    * txn record goes through — see [[CommitStore]] for the exact
    * filesystem contract and when the default does NOT hold (plain
    * S3A). Process-wide, set once at startup. */
  @volatile var commitStore: CommitStore = AtomicCreateStore

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_manifests")

  private def manifestPath(dir: String, v: Long) =
    new org.apache.hadoop.fs.Path(manifestDir(dir), f"v$v%020d")

  /** Every version NUMBER a manifest file exists for, ascending —
    * including transactional manifests whose record is still
    * in-flight or aborted (tombstones). Version claims go above
    * these; READERS want [[versions]]. */
  // hoisted: String.matches would re-compile the pattern on EVERY
  // manifest-listing entry
  private val ManifestName = java.util.regex.Pattern.compile("v\\d{20}")

  /** Cached manifest listing per table dir. Version claims are DENSE
    * at the top (every writer claims rawTop + 1; only vacuum removes,
    * and only from the bottom), so after one full listing the set is
    * maintained by PROBING `top + 1` — a steady-state streaming
    * trigger costs ONE existence check instead of an O(all versions)
    * directory listing (on an object store: one HEAD instead of a
    * paged LIST). Writers in this process extend it at commit;
    * foreign writers are discovered by the probe; vacuum drops the
    * entry (next call re-lists). Like every metadata cache here it
    * assumes the vacuum retention discipline the docstrings demand —
    * a FOREIGN process must not vacuum versions this one still
    * replays. */
  private val dirListCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Long]]()

  private[graft] def rawVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val cached = dirListCache.get(dir)
    if (cached == null || cached.isEmpty) {
      val md = manifestDir(dir)
      val full =
        if (!f.exists(md)) Vector.empty[Long]
        else f.listStatus(md).toVector
          .map(_.getPath.getName)
          .filter(ManifestName.matcher(_).matches())
          .map(_.drop(1).toLong)
          .sorted
      if (full.nonEmpty) dirListCache.put(dir, full)
      full
    } else if (!f.exists(manifestPath(dir, cached.last))) {
      // out-of-band wipe guard: the cached top vanished, so the
      // location was deleted/rebuilt outside the protocol (vacuum
      // never touches the top) — purge EVERYTHING cached under it
      // and re-list from disk
      invalidate(dir)
      rawVersions(spark, dir)
    } else {
      var ext = cached
      while (f.exists(manifestPath(dir, ext.last + 1))) ext = ext :+ (ext.last + 1)
      if (ext ne cached) dirListCache.put(dir, ext)
      ext
    }
  }

  // -----------------------------------------------------------------
  // Driver-side metadata caches. Manifests are IMMUTABLE once written
  // (version numbers are never reused; vacuum deletes but never
  // rewrites), a DECIDED transaction record is permanent, and
  // committedness can only go one way (in-flight → decided). So:
  // parsed manifests cache until evicted, decided txn records cache
  // forever, and committedness caches once true. This is what keeps
  // [[versions]]/[[latest]] manifest-read-FREE on hot paths — the
  // change feed's admission-control `latestOffset` calls [[versions]]
  // EVERY microbatch trigger, and without the cache a long-lived
  // table would pay O(all versions) small-file reads per trigger
  // (the quadratic-over-a-stream's-life shape the batch ledger and
  // the high-water sink check already avoid). A fresh process still
  // pays O(versions) reads ONCE to warm; after that a trigger costs
  // one directory listing plus reads for genuinely NEW manifests.
  // -----------------------------------------------------------------
  private val ManifestCacheMax = 4096
  private val manifestCache: java.util.Map[String, Manifest] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Manifest](128, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Manifest]): Boolean =
          size() > ManifestCacheMax
      })
  /** Manifest paths KNOWN committed — monotone, never invalidated
    * (only vacuum removes entries, with their manifests). */
  private val committedCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Decided transaction records: recordPath → committed?. */
  private val txnCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Drop all cached metadata — the stress/spec hook that simulates a
    * FRESH process attaching to an existing table (the one-time warm
    * cost the caches amortize). */
  private[graft] def clearCaches(): Unit = {
    manifestCache.clear()
    committedCache.clear()
    txnCache.clear()
    dirListCache.clear()
    checkpointLoaded.clear()
    Dv.forget(_ => true)
  }

  /** Cache key for (dir, version) — a plain string concat, NOT a
    * hadoop Path: Path.toString re-parses the URI every time, and the
    * hot paths build one key per version per trigger. */
  private def cacheKey(dir: String, v: Long): String = dir + " " + v

  /** Purge every cached metadata entry at or under `path` (no
    * filesystem change). Needed when a table LOCATION is wiped and
    * rebuilt outside the commit protocol (tests, benchmarks): the
    * immutability assumptions the caches rest on do not survive an
    * out-of-band delete+recreate. */
  def invalidate(path: String): Unit = {
    val pfx = path.stripSuffix("/")
    val hit: java.util.function.Predicate[String] = k =>
      k == pfx || k.startsWith(pfx + "/") || k.startsWith(pfx + " ")
    manifestCache.synchronized { manifestCache.keySet().removeIf(hit) }
    committedCache.removeIf(hit)
    txnCache.keySet().removeIf(hit)
    dirListCache.keySet().removeIf(hit)
    checkpointLoaded.removeIf(hit)
    Dv.forget(hit.test)
  }

  /** Delete `path` recursively AND purge the metadata caches under it
    * — the only safe way to wipe and rebuild a table location within
    * one process (a raw `fs.delete` would leave the caches serving
    * the dead table's manifests). */
  def dropPath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    invalidate(path)
  }

  private def checkpointPath(dir: String) =
    new org.apache.hadoop.fs.Path(manifestDir(dir), "_checkpoint")

  /** Persist a COMMITTEDNESS CHECKPOINT (the Delta `_last_checkpoint`
    * discipline, for the one thing our cold path pays for): a fresh
    * process attaching to a long-lived table must otherwise OPEN
    * every manifest once just to learn whether it carries `#txn` —
    * O(versions) small-file reads. The checkpoint records each
    * version's DECIDED state (`c` committed / `a` aborted tombstone);
    * undecided in-flight transactions are deliberately OMITTED (their
    * fate is open — readers must re-check the record). Written to a
    * temp sibling and RENAMED in (content-atomic, like the compaction
    * journal); safe to regenerate at any time, stale checkpoints just
    * cover fewer versions. Run it as maintenance after batch loads —
    * cold attach cost drops to one listing + one file read + opens
    * for versions ABOVE the checkpoint only. */
  def checkpoint(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val lines = rawVersions(spark, dir).flatMap { v =>
      val m = manifest(spark, dir, v)
      m.metaValues("txn").headOption match {
        case None => Some(s"$v:c")
        case Some(rec) => txnState(spark, rec) match {
          case Some(true) => Some(s"$v:c")
          case Some(false) => Some(s"$v:a")
          case None => None // in flight: fate open, never checkpointed
        }
      }
    }
    val tmp = new org.apache.hadoop.fs.Path(manifestDir(dir), "_checkpoint.tmp")
    f.mkdirs(manifestDir(dir))
    val out = f.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    f.delete(checkpointPath(dir), false)
    require(f.rename(tmp, checkpointPath(dir)),
      s"checkpoint rename failed under $dir")
    lines.size.toLong
  }

  /** How many versions the persisted committedness checkpoint covers
    * (None if no checkpoint has been written) — operational
    * visibility for the `ckptevery` policy and the maintenance docs. */
  def checkpointCoverage(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val cp = checkpointPath(dir)
    if (!f.exists(cp)) None
    else {
      val in = f.open(cp)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .count(_.nonEmpty).toLong)
      finally in.close()
    }
  }

  /** Seed the committedness caches from the checkpoint, if present —
    * called once per (process, dir) on the first cold committedness
    * miss. Aborted entries seed the decided-txn knowledge indirectly:
    * the version is simply never marked committed, and the one
    * manifest+record read it would cost only happens if someone asks
    * about that tombstone specifically. */
  private val checkpointLoaded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def loadCheckpoint(spark: SparkSession, dir: String): Unit = {
    if (!checkpointLoaded.add(dir)) return
    val f = fs(spark, dir)
    val cp = checkpointPath(dir)
    if (!f.exists(cp)) return
    val in = f.open(cp)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    lines.foreach { l =>
      l.split(":", 2) match {
        case Array(v, "c") if v.forall(_.isDigit) =>
          committedCache.add(cacheKey(dir, v.toLong))
        case _ => () // aborted or malformed: decide from disk if asked
      }
    }
  }

  /** A transaction record's state: absent (in flight), committed, or
    * aborted. The record is create-exclusive — its first writer
    * decides, permanently (which is what makes the decided state
    * cacheable). */
  private def txnState(spark: SparkSession, rec: String): Option[Boolean] = {
    val cached = txnCache.get(rec)
    if (cached != null) return Some(cached.booleanValue())
    val p = new org.apache.hadoop.fs.Path(rec)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val first =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .find(_.nonEmpty).getOrElse("")
        finally in.close()
      val st = first.startsWith("commit")
      txnCache.put(rec, java.lang.Boolean.valueOf(st))
      Some(st)
    }
  }

  /** Is this manifest visible to readers? Plain manifests always;
    * transactional ones only once their record says `commit`. */
  private def isCommitted(spark: SparkSession, m: Manifest): Boolean =
    m.metaValues("txn").headOption.forall(rec =>
      txnState(spark, rec).contains(true))

  private def isCommittedVersion(spark: SparkSession, dir: String,
                                 v: Long): Boolean = {
    val key = cacheKey(dir, v)
    if (committedCache.contains(key)) true
    else {
      // first cold miss per (process, dir): seed from the persisted
      // checkpoint so attaching to a long history opens no manifests
      loadCheckpoint(spark, dir)
      if (committedCache.contains(key)) true
      else {
        val ok = isCommitted(spark, manifest(spark, dir, v))
        if (ok) committedCache.add(key)
        ok
      }
    }
  }

  /** All COMMITTED versions, ascending — the reader's view. Plain
    * manifests need no extra I/O; transactional ones cost one record
    * existence check each. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    rawVersions(spark, dir).filter(isCommittedVersion(spark, dir, _))

  /** Latest committed version, if any — walks the manifest listing
    * from the top and stops at the first committed one (normally the
    * very first probe). */
  def latest(spark: SparkSession, dir: String): Option[Long] =
    rawVersions(spark, dir).reverseIterator
      .find(isCommittedVersion(spark, dir, _))

  /** Resolve the manifest of a COMMITTED version, refusing aborted /
    * in-flight transactional manifests — the accessor every read
    * path goes through. */
  private[operators] def committedManifest(spark: SparkSession, dir: String,
                                v: Long): Manifest = {
    val m = manifest(spark, dir, v)
    require(isCommitted(spark, m),
      s"snapshot version $v of $dir is not committed (an in-flight or " +
        "aborted transaction) — readers see only committed versions")
    m
  }

  private def manifestLines(spark: SparkSession, dir: String,
                            v: Long): Seq[String] = {
    val p = manifestPath(dir, v)
    val f = fs(spark, dir)
    require(f.exists(p), s"snapshot version $v does not exist under $dir")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** One parsed manifest: the file list plus keyed meta accessors. */
  private[graft] case class Manifest(files: Seq[String], meta: Seq[String]) {
    def metaValues(key: String): Seq[String] = {
      val p = s"#$key:"
      meta.collect { case m if m.startsWith(p) => m.stripPrefix(p) }
    }
    /** The version's logical read schema, if recorded (format 2). */
    def schemaOpt: Option[StructType] =
      metaValues("schema").headOption.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
    /** Per-file (rows, min, max) stats recorded for `keyCol`. */
    def stats(keyCol: String): Map[String, (Long, Long, Long)] =
      metaValues("stat").flatMap { s =>
        // key:rows:min:max:relpath — path last (never contains ':')
        s.split(":", 5) match {
          case Array(k, rows, mn, mx, rel) if k == keyCol =>
            Some(rel -> ((rows.toLong, mn.toLong, mx.toLong)))
          case _ => None
        }
      }.toMap
    /** Typed per-file stats for a PHYSICAL column (format 2.1
      * `#stat2:<col>:<kind>:<rows>:<min>:<max>:<rel>` lines):
      * rel → (rows, kind, minEnc, maxEnc). */
    def stats2(colPhys: String): Map[String, (Long, String, String, String)] =
      metaValues("stat2").flatMap { s =>
        s.split(":", 6) match {
          case Array(c, kind, rows, mn, mx, rel) if c == colPhys =>
            Some(rel -> ((rows.toLong, kind, mn, mx)))
          case _ => None
        }
      }.toMap
    /** Per-ROW-GROUP typed stats for a PHYSICAL column (format 2.3
      * `#stat3:<col>:<kind>:<start>:<len>:<rows>:<min>:<max>:<rel>`
      * lines — recorded at staging only for files with ≥ 2 row
      * groups): rel → row groups in byte order. */
    def stats3(colPhys: String): Map[String, Seq[Layout.TypedRgStat]] =
      metaValues("stat3").flatMap { s =>
        s.split(":", 8) match {
          case Array(c, kind, start, len, rows, mn, mx, rel) if c == colPhys =>
            Some(Layout.TypedRgStat(rel, c, start.toLong, len.toLong,
              rows.toLong, kind, mn, mx))
          case _ => None
        }
      }.groupBy(_.path).map { case (rel, gs) =>
        rel -> gs.sortBy(_.start).toSeq
      }
    /** The declared typed-stats column list (PHYSICAL names). */
    def statCols: Seq[String] = metaValues("statcols").headOption
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    /** Per-file KMV NDV sketches for a PHYSICAL column (format 2.1
      * `#ndv:<col>:<b64>:<rel>` lines): rel → decoded sketch. */
    def ndvSketches(colPhys: String): Map[String, Array[Long]] =
      metaValues("ndv").flatMap { s =>
        s.split(":", 3) match {
          case Array(c, b64, rel) if c == colPhys =>
            Some(rel -> Ndv.decode(b64))
          case _ => None
        }
      }.toMap
    /** The declared NDV column list (PHYSICAL names). */
    def ndvCols: Seq[String] = metaValues("ndvcols").headOption
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    /** Column RENAME map, physical → logical (format 2.1): entries
      * exist only for renamed columns. The PHYSICAL name — the name a
      * column was born under, the one every data file stores — never
      * changes; the manifest schema carries the current LOGICAL name
      * and this map ties them. */
    def colMap: Map[String, String] = metaValues("colmap").map { s =>
      val Array(p, l) = s.split(":", 2)
      p -> l
    }.toMap
    /** logical → physical (the staging/stat direction). */
    def toPhysical: Map[String, String] = colMap.map(_.swap)
    /** Per-file byte sizes (`#fsize:<bytes>:<rel>`, recorded from the
      * staging listing — Iceberg's file_size_in_bytes): size-based
      * planning reads the manifest, never the filesystem. */
    def fileSizes: Map[String, Long] = metaValues("fsize").flatMap { s =>
      s.split(":", 2) match {
        case Array(n, rel) => Some(rel -> n.toLong)
        case _ => None
      }
    }.toMap
    /** Per-file DELETION VECTORS (format 2.2 `#dv:<b64>:<rel>` inline
      * and `#dvf:<count>:<sidecar-rel>:<rel>` sidecar lines —
      * merge-on-read deletes): rel → its [[Dv.Vec]]. A version's
      * logical content is its files' rows MINUS these positions; every
      * read path applies them, rewrites materialize them (the rewrite
      * reads DV-filtered) and drop the line, and [[compact]] is the
      * reclaimer. DVs only GROW on a given file — shrinking would
      * resurrect rows. */
    def dvs: Map[String, Dv.Vec] = Dv.parse(metaValues("dv"), metaValues("dvf"))
    /** Generic CARRIED table properties (`#prop:key=value` — the
      * Delta table-properties shape): set once at publish (via the
      * `meta` arg) or later with [[setProp]], and copied forward
      * verbatim by EVERY write path ([[carriedLines]]), so a policy
      * rides on all future versions until changed. The channel behind
      * the auto-checkpoint policy (`ckptevery`) and the Z-order layout
      * descriptor (`zlayout`). */
    def props: Map[String, String] = metaValues("prop").map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"malformed #prop line (need key=value): $s")
      s.substring(0, i) -> s.substring(i + 1)
    }.toMap
  }

  private[graft] def manifest(spark: SparkSession, dir: String,
                                  v: Long): Manifest = {
    val key = cacheKey(dir, v)
    val hit = manifestCache.get(key)
    if (hit != null) hit
    else {
      val (meta, files) = manifestLines(spark, dir, v).partition(_.startsWith("#"))
      val m = Manifest(files, meta)
      manifestCache.put(key, m)
      m
    }
  }

  /** The data files (paths relative to `dir`) version `v` reads. */
  def files(spark: SparkSession, dir: String, v: Long): Seq[String] =
    committedManifest(spark, dir, v).files

  /** The streaming batch ids already applied to this table (the
    * `#batch:` headers across all committed manifests) — the full
    * ledger, for inspection/audit. O(versions); the hot-path replay
    * check is [[lastAppliedBatch]]. */
  def appliedBatches(spark: SparkSession, dir: String): Set[Long] =
    versions(spark, dir).flatMap(v =>
      manifest(spark, dir, v).metaValues("batch").map(_.toLong)).toSet

  /** The HIGHEST applied batch id — found by scanning manifests
    * newest-first and stopping at the first committed batch header
    * (batch ids are monotone per streaming query, so the newest
    * header carries the max). This keeps [[mergeBatch]]'s per-batch
    * replay check at O(non-batch commits since the last batch), not
    * O(all versions) — a stream sinking thousands of batches would
    * otherwise pay a quadratic manifest re-scan over its life. */
  def lastAppliedBatch(spark: SparkSession, dir: String): Option[Long] =
    rawVersions(spark, dir).reverseIterator
      .map(v => manifest(spark, dir, v))
      .filter(isCommitted(spark, _))
      .map(_.metaValues("batch").headOption.map(_.toLong))
      .collectFirst { case Some(id) => id }

  /** The newest COMMITTED version carrying a `#batch:` header — the
    * version a retention vacuum must never drop: erasing every
    * batch-bearing manifest would make [[lastAppliedBatch]] return
    * None, and a streaming restart's re-delivered batch would then
    * RE-APPLY instead of being absorbed (the exactly-once claim
    * broken). [[maintainImpl]] clamps its vacuum floor to this. */
  private[operators] def newestBatchVersion(spark: SparkSession,
                                            dir: String): Option[Long] =
    rawVersions(spark, dir).reverseIterator.find { v =>
      val m = manifest(spark, dir, v)
      m.metaValues("batch").nonEmpty && isCommitted(spark, m)
    }

  /** The batch-LEDGER carry for a commit on top of `pm`: the previous
    * manifest's newest `#batch:` header, copied forward verbatim —
    * unless the new commit stamps its own batch id (`newMeta` already
    * carries one). Every non-batch commit path (compaction,
    * metadata-only commits, plain loads) carries this, the same way
    * `#prop` lines carry, so the exactly-once ledger SURVIVES
    * maintenance: without the carry, a `retainversions` vacuum on a
    * streaming-sink table could drop every batch-bearing manifest
    * while batch-less compact/setProp commits sit on top, and the
    * next restart's re-delivered batch would re-apply. O(1) — reads
    * only the prev manifest already in hand, and the carry chain
    * keeps the newest manifest batch-bearing forever after the first
    * batch. */
  private[operators] def carriedBatch(pm: Manifest,
                                      newMeta: Seq[String] = Nil): Seq[String] =
    if (newMeta.exists(_.startsWith("batch:"))) Nil
    else pm.metaValues("batch").headOption.map(id => s"batch:$id").toSeq

  /** Table-level DECLARATIONS — they describe the table, not a file,
    * so every version carries them. */
  private val DeclFamilies =
    Seq("prop:", "colmap:", "statcols:", "ndvcols:", "bucketw:", "bucketh:")

  /** PER-FILE lines — the manifest-relative path is the LAST field
    * and never contains ':' — carried only while their file is kept. */
  private val FileFamilies = Seq("stat:", "stat2:", "stat3:", "ndv:",
    "fsize:", "dv:", "dvf:", "filew:", "fileh:", "filez:")

  /** THE carry rule — the meta lines of a version committed on top of
    * `pm` that keeps the `kept` files and adds `st`'s:
    *  - declarations ([[DeclFamilies]]) always carry, the batch ledger
    *    via [[carriedBatch]];
    *  - per-file lines ([[FileFamilies]]) carry only for kept files —
    *    a rewritten file's deletion vector drops with it, because the
    *    rewrite read was DV-filtered and the deletes materialized;
    *  - `format`, `schema`, `txn` and `ts` never carry (written fresh);
    *  - `meta` (new declarations, batch stamp, txn record, the new
    *    files' epoch lines) leads, and `replaced` drops the carried
    *    lines it supersedes (a metadata-only commit's one changed
    *    declaration, or a grown deletion vector).
    * Every commit that keeps files lands through here
    * ([[commitReplacing]]), so a line family added later is carried
    * by adding it to one list. */
  private[graft] def carriedLines(pm: Manifest, kept: Seq[String],
      st: Staged, schemaJson: String, meta: Seq[String] = Nil,
      replaced: String => Boolean = _ => false): Seq[String] = {
    val keptSet = kept.toSet
    val carried = pm.meta.map(_.stripPrefix("#")).filter { l =>
      !replaced(l) && (DeclFamilies.exists(l.startsWith) ||
        FileFamilies.exists(l.startsWith) && keptSet.contains(lineRel(l)))
    }
    Seq("format:2", s"schema:$schemaJson") ++ meta ++ carriedBatch(pm, meta) ++
      carried ++ st.statLines ++ st.stat2Lines ++ st.ndvLines ++ st.sizeLines
  }

  /** Every write's prologue: resolve an undecided transaction at the
    * raw top ([[resolveForWrite]]), then the head version and its
    * manifest — the base the write plans (and claims) against. */
  private[operators] def writeHead(spark: SparkSession, dir: String,
                                   hint: String = ""): (Long, Manifest) = {
    resolveForWrite(spark, dir)
    val prev = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots$hint"))
    (prev, manifest(spark, dir, prev))
  }

  /** Atomically commit `relFiles` as version `v`. Create-exclusive:
    * if `v` already exists (a racing writer won it), this throws and
    * nothing changes — the caller re-reads latest and retries.
    * `meta` lines (each rendered as `#key:value`) ride in the same
    * atomic write — metadata and file list cannot diverge. */
  def commit(spark: SparkSession, dir: String, v: Long,
             relFiles: Seq[String], meta: Seq[String] = Nil): Unit = {
    require(v >= 1, "versions start at 1")
    require(meta.forall(m => m.nonEmpty && !m.contains("\n")),
      "meta lines must be non-empty and single-line")
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    val p = manifestPath(dir, v)
    // every commit stamps its WALL TIME (`#ts:<epochMicros>` — the
    // Delta/Iceberg commit-timestamp line behind TIMESTAMP AS OF);
    // per-version, never carried, so no commit site can forget it.
    // Writer-clock skew is handled at RESOLUTION (running max), not
    // here — rewriting history's timestamps would lie to the reader.
    val stamped =
      if (meta.exists(_.startsWith("ts:"))) meta
      else s"ts:${clockMicros(spark)}" +: meta
    // the atomic claim (pluggable — see CommitStore): throws if v is
    // taken, never leaves a partial or replaced manifest
    commitStore.createExclusive(f, p,
      ((stamped.map("#" + _) ++ relFiles).mkString("\n") + "\n").getBytes("UTF-8"))
    // keep the listing cache current: dense extension when this commit
    // is the next version, otherwise invalidate (re-list on next read)
    dirListCache.computeIfPresent(dir, (_, old) =>
      if (old.nonEmpty && old.last == v - 1) old :+ v else null)
    // PERIODIC CHECKPOINT POLICY (`prop:ckptevery=N`, carried): every
    // Nth version refreshes the committedness checkpoint as part of
    // the write itself — long-lived tables keep their cold-attach
    // cost at one file read WITHOUT anyone remembering to run
    // maintenance. Provisional transaction manifests never trigger it
    // (their fate is undecided; the txn's own commit cannot be
    // checkpointed from here anyway). A checkpoint failure must not
    // fail the WRITE — the commit is already durable; the checkpoint
    // is an optimization that the next policy hit retries.
    if (!meta.exists(_.startsWith("txn:")))
      meta.collectFirst {
        case m if m.startsWith("prop:ckptevery=") =>
          m.stripPrefix("prop:ckptevery=")
      }.flatMap(s => scala.util.Try(s.toLong).toOption) // malformed: ignore
        .filter(_ > 0).foreach { n =>
          if (v % n == 0)
            try checkpoint(spark, dir)
            catch { case scala.util.control.NonFatal(_) => () }
        }
  }

  /** Test seam for the commit clock (`spark.graft.testClockMicros` —
    * specs pin commit wall-times deterministically); production reads
    * the system clock. */
  val TestClockKey = "spark.graft.testClockMicros"

  private def clockMicros(spark: SparkSession): Long =
    spark.conf.getOption(TestClockKey).map(_.toLong)
      .getOrElse(System.currentTimeMillis() * 1000L)

  /** The RECORDED commit wall-time of version `v` (epoch micros), if
    * the manifest carries one — manifests written before the `#ts`
    * line predate it. Raw, unadjusted: see [[versionAtTimestamp]] for
    * the skew-safe resolution surface. */
  def commitTsAt(spark: SparkSession, dir: String, v: Long): Option[Long] =
    committedManifest(spark, dir, v).metaValues("ts").headOption.map(_.toLong)

  /** Resolve `TIMESTAMP AS OF`: the NEWEST committed version whose
    * commit time is ≤ `micros` — the Delta/Iceberg rule, including
    * the MONOTONICITY adjustment for writer-clock skew: a commit
    * stamped earlier than its predecessor resolves as predecessor+1µs
    * (recorded timestamps are never rewritten; only resolution
    * adjusts, so the answer is stable and history never reorders).
    * A version predating the `#ts` line inherits its predecessor's
    * adjusted time (it can never win over a later stamped version).
    * Before the first stamped commit refuses with the valid range;
    * after the latest resolves to the latest (the audit-read
    * convention: "as of yesterday 09:00" on a quiet table is the
    * current version). */
  def versionAtTimestamp(spark: SparkSession, dir: String,
                         micros: Long): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"$dir has no snapshots")
    var running = Long.MinValue
    val adjusted = vs.map { v =>
      val raw = commitTsAt(spark, dir, v)
      running = raw match {
        case Some(t) if running == Long.MinValue => t
        case Some(t) => math.max(t, running + 1)
        case None if running == Long.MinValue => Long.MinValue
        case None => running + 1
      }
      v -> running
    }
    val stamped = adjusted.filter(_._2 != Long.MinValue)
    require(stamped.nonEmpty,
      s"$dir predates commit timestamps (no #ts lines) — " +
        "TIMESTAMP AS OF needs at least one stamped commit; " +
        "use VERSION AS OF")
    val hit = stamped.filter(_._2 <= micros)
    require(hit.nonEmpty,
      s"no version of $dir existed at timestamp $micros µs — the " +
        s"earliest stamped commit is version ${stamped.head._1} at " +
        s"${stamped.head._2} µs")
    hit.last._1
  }

  /** Table properties of version `v` (the carried `#prop` lines). */
  def propsAt(spark: SparkSession, dir: String, v: Long): Map[String, String] =
    committedManifest(spark, dir, v).props

  /** Set (or with `value = None` REMOVE) one carried table property —
    * a METADATA-ONLY commit: same files, same schema, same stats,
    * only the `#prop` set changes. O(manifest). Property keys and
    * values must be single-line and colon-free on the key side
    * (the manifest line grammar). */
  def setProp(spark: SparkSession, dir: String, key: String,
              value: Option[String]): Long =
    setProps(spark, dir, Seq(key -> value))

  /** Set/remove SEVERAL carried properties in ONE metadata-only
    * commit — the atomicity `ALTER TABLE ... SET TBLPROPERTIES('a'=…,
    * 'b'=…)` needs (per-key commits would half-apply a refused
    * statement and burn one version per key). EVERY change validates
    * BEFORE anything commits; `None` removes; the last occurrence of
    * a repeated key wins. */
  def setProps(spark: SparkSession, dir: String,
               changes: Seq[(String, Option[String])]): Long = {
    require(changes.nonEmpty, "setProps needs at least one change")
    changes.foreach { case (key, value) =>
      require(key.nonEmpty && !key.contains("=") && !key.contains("\n") &&
        !key.contains(":"), s"invalid property key '$key'")
      value.foreach(vv => require(!vv.contains("\n"),
        s"invalid property value for '$key' (must be single-line)"))
    }
    val effective = scala.collection.mutable.LinkedHashMap[String, Option[String]]()
    changes.foreach { case (k, vv) => effective.remove(k); effective.put(k, vv) }
    resolveForWrite(spark, dir)
    val prev = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val pm = manifest(spark, dir, prev)
    // #batch deliberately carries (the exactly-once ledger must
    // survive metadata-only commits — see carriedBatch); #txn must not
    // (this commit is not that transaction's member)
    val keys = effective.keySet
    // #ts must not carry either: commit() stamps fresh only when no
    // ts line exists, so a carried predecessor stamp would give this
    // ALTER its predecessor's wall time (TIMESTAMP AS OF would then
    // resolve a version that did not exist at that time)
    val kept = pm.meta.filterNot(m => m.startsWith("#format:") ||
        keys.exists(k => m.startsWith(s"#prop:$k=")) || m.startsWith("#txn:") ||
        m.startsWith("#ts:"))
      .map(_.stripPrefix("#"))
    val v = claimAbove(spark, dir, prev)
    commit(spark, dir, v, pm.files,
      Seq("format:2") ++ kept ++ effective.toSeq.collect {
        case (k, Some(vv)) => s"prop:$k=$vv"
      })
    v
  }

  /** ADDITIVE/WIDENING schema evolution as ONE METADATA-ONLY commit
    * (the catalog's ALTER TABLE ADD COLUMNS / type-widen hook, and
    * what the analyzer's MERGE ... WITH SCHEMA EVOLUTION calls
    * through it): `adds` append nullable top-level columns — files
    * never rewrite, readers null-fill (the same additive contract
    * [[mergeSchemas]] gives appends) — and `widenTo` moves existing
    * columns up the lossless [[widens]] lattice (old files widen
    * natively under the explicit read schema, the q175 machinery).
    * Everything else about the version carries VERBATIM (same files,
    * stats, vectors, epochs, props, ledger — the setProps blacklist
    * discipline), with a fresh #ts. An added name may not collide
    * with any LOGICAL name or any colmap PHYSICAL name (a file's
    * stored column would leak into the "new" column instead of
    * null-filling). */
  def evolveSchema(spark: SparkSession, dir: String,
                   adds: Seq[org.apache.spark.sql.types.StructField],
                   widenTo: Seq[(String, org.apache.spark.sql.types.DataType)]
                     = Nil): Long = {
    require(adds.nonEmpty || widenTo.nonEmpty,
      "evolveSchema needs at least one change")
    resolveForWrite(spark, dir)
    val prev = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val pm = manifest(spark, dir, prev)
    val base = pm.schemaOpt.getOrElse(throw new IllegalArgumentException(
      s"$dir predates manifest format 2 — schema evolution needs a " +
        "recorded schema"))
    val taken = base.fieldNames.toSet ++ pm.colMap.keySet
    adds.foreach(f => require(!taken.contains(f.name),
      s"cannot add column ${f.name}: the name is already a logical or " +
        "physical column of the table"))
    val widenMap = widenTo.toMap
    widenTo.foreach { case (c, t) =>
      require(base.fieldNames.contains(c),
        s"cannot widen unknown column $c")
      val from = base(c).dataType
      require(from == t || widens(from, t),
        s"schema evolution is ADDITIVE/WIDENING only: column $c cannot " +
          s"change type ${from.simpleString} -> ${t.simpleString}")
    }
    val ns = StructType(base.fields.map(f =>
      widenMap.get(f.name).fold(f)(t => f.copy(dataType = t))) ++
      adds.map(_.copy(nullable = true)))
    val kept = pm.meta.filterNot(m => m.startsWith("#format:") ||
        m.startsWith("#schema:") || m.startsWith("#txn:") ||
        m.startsWith("#ts:"))
      .map(_.stripPrefix("#"))
    val v = claimAbove(spark, dir, prev)
    commit(spark, dir, v, pm.files,
      Seq("format:2", s"schema:${nullable(ns).json}") ++ kept)
    v
  }

  /** A staged write's outcome: the new files plus the meta lines
    * (schema + per-file stats + byte sizes) the commit should carry. */
  private[graft] case class Staged(rels: Seq[String], schemaJson: String,
                            statLines: Seq[String],
                            stat2Lines: Seq[String] = Nil,
                            ndvLines: Seq[String] = Nil,
                            sizeLines: Seq[String] = Nil)

  private[operators] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** Lossless type-WIDENING lattice — exactly the promotions Spark's
    * parquet reader performs natively when the requested schema is
    * wider than a file's (probed on this distribution: int32 files
    * read as long/double, float as double, etc.), so a widened
    * manifest schema needs NO rewrite of old files. Long→double is
    * deliberately absent (lossy above 2^53). */
  private[operators] def widens(from: org.apache.spark.sql.types.DataType,
                                to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** Additive + WIDENING schema merge: columns only one side carries
    * are appended (files that predate a column null-fill it at
    * read); shared columns keep their type or widen losslessly in
    * either direction — the manifest records the WIDEST, and old
    * files widen natively under the explicit read schema. Anything
    * else (drops, narrows, incomparable changes) refuses. */
  private[operators] def mergeSchemas(base: StructType, add: StructType): StructType = {
    val addMap = add.fields.map(f => f.name -> f).toMap
    val merged = base.fields.map { bf =>
      addMap.get(bf.name) match {
        case Some(af) if af.dataType == bf.dataType => bf
        case Some(af) if widens(bf.dataType, af.dataType) =>
          bf.copy(dataType = af.dataType)
        case Some(af) if widens(af.dataType, bf.dataType) => bf
        case Some(af) =>
          throw new IllegalArgumentException(
            s"schema evolution is ADDITIVE/WIDENING only: column ${bf.name} " +
              s"cannot change type ${bf.dataType.simpleString} -> " +
              s"${af.dataType.simpleString}")
        case None => bf
      }
    }
    StructType(merged ++
      add.fields.filterNot(f => base.fieldNames.contains(f.name)))
  }

  /** Widening-aware MERGE alignment: both sides cast to the
    * per-column WIDEST type, target column order = the update
    * batch's. Dropping a target column refuses; incomparable type
    * changes refuse. */
  private[operators] def mergeAlign(existing: DataFrame,
                                    updates: DataFrame): (DataFrame, DataFrame) = {
    val dropped = existing.columns.toSet -- updates.columns.toSet
    require(dropped.isEmpty,
      s"merge: updates drop target columns ${dropped.toSeq.sorted.mkString(",")} " +
        "— additive evolution only (add columns, never remove)")
    val target = updates.columns.map { c =>
      val u = updates.schema(c).dataType
      val t =
        if (!existing.columns.contains(c)) u
        else {
          val e = existing.schema(c).dataType
          if (e == u || widens(e, u)) u
          else if (widens(u, e)) e
          else throw new IllegalArgumentException(
            s"merge: column $c cannot change type ${e.simpleString} -> " +
              s"${u.simpleString} (additive/widening evolution only)")
        }
      c -> t
    }
    val ex = existing.select(target.map { case (c, t) =>
      (if (existing.columns.contains(c)) col(c) else lit(null)).cast(t).as(c)
    }: _*)
    val up = updates.select(target.map { case (c, t) =>
      col(c).cast(t).as(c)
    }: _*)
    (ex, up)
  }

  /** Serializes the [[stage]] `outputTimestampType` set/restore window
    * (see there) — staging writes to DIFFERENT tables still overlap
    * in every phase except the parquet write itself. */
  private val stageTsLock = new Object

  /** Stage one bucket-partitioned, key-sorted load under a fresh
    * token dir and return the staged files relative to `dir`, plus
    * the meta (schema json + per-file key stats) for the commit.
    * Nothing is visible until a manifest referencing them commits.
    * The bucket value is DUPLICATED into the `__bdir` directory
    * column, so the data files carry the full logical schema —
    * readers never need partition discovery.
    *
    * Stats are footer-walked over ONLY the files this stage just
    * wrote (cost ∝ this commit's churn, incremental by
    * construction); non-INT64 sort keys simply record no stats and
    * [[versionStats]] falls back to the verification walk. */
  private[operators] def stage(df: DataFrame, dir: String, bucketCol: String,
                    sortCols: Seq[String], blockSize: Long,
                    numTasks: Int, stat2Cols: Seq[String] = Nil,
                    ndvCols: Seq[String] = Nil): Staged = {
    require(!df.columns.contains(DirCol),
      s"column name $DirCol is reserved for the staging layout")
    require(sortCols.nonEmpty, "snapshot writes need the layout sort columns")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = s"$dir/data/$token"
    // TimestampType columns must land as INT64 TIMESTAMP(MICROS), not
    // Spark's legacy INT96 default: INT96 is deprecated and parquet
    // writes NO column statistics for it, which would make every
    // with-zone timestamp invisible to the manifest's typed stats —
    // no #stat2 lines, no data skipping, no box pruning (NTZ columns
    // already land as INT64). Session-conf only (parquet exposes no
    // per-write option), so set/restore around the one staging write —
    // SERIALIZED on a JVM-global lock: two concurrent stage() calls
    // would otherwise race the restore (one writer reinstating INT96
    // before the other's write executes — silently statistics-free
    // timestamps for that commit). Only frames that actually carry a
    // with-zone TimestampType take the lock — for everything else the
    // conf is irrelevant (NTZ lands INT64 regardless) and concurrent
    // staging writes proceed unserialized. A concurrent NON-graft parquet
    // write during the window inherits TIMESTAMP_MICROS, which is the
    // value everything downstream wants anyway (and what Spark's own
    // migration guide recommends); a user's own concurrent set of
    // this key can still be clobbered by the restore — documented
    // limitation of a session-global conf.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    def hasTz(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.TimestampType => true
      case s: StructType => s.fields.exists(f => hasTz(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasTz(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasTz(m.keyType) || hasTz(m.valueType)
      case _ => false
    }
    def writeStaged(): Unit = df.withColumn(DirCol, col(bucketCol))
      .repartition(numTasks, col(bucketCol))
      // DirCol leads the local sort: FileFormatWriter requires its
      // partition column ordered and cannot see that DirCol aliases
      // bucketCol — without the prefix it would inject its own
      // NON-STABLE sort by DirCol alone, destroying the key order
      // inside each file (caught by the merged-file-sorted spec)
      .sortWithinPartitions(
        col(DirCol) +: col(bucketCol) +: sortCols.map(col): _*)
      .write.mode("errorifexists")
      .option("parquet.block.size", blockSize)
      .partitionBy(DirCol)
      .parquet(stageDir)
    if (!df.schema.fields.exists(f => hasTz(f.dataType))) writeStaged()
    else stageTsLock.synchronized {
      val tsPrev = df.sparkSession.conf.getOption(tsKey)
      df.sparkSession.conf.set(tsKey, "TIMESTAMP_MICROS")
      try writeStaged()
      finally tsPrev match {
        case Some(v) => df.sparkSession.conf.set(tsKey, v)
        case None => df.sparkSession.conf.unset(tsKey)
      }
    }
    val f = fs(df.sparkSession, dir)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    val walked = walk(new org.apache.hadoop.fs.Path(stageDir))
    def relOf(p: org.apache.hadoop.fs.Path): String =
      s"data/$token/" + p.toString.split(s"/data/$token/").last
    val staged = walked.map(st => relOf(st.getPath))
    // per-file BYTE sizes, from the listing this walk already did
    // (Iceberg's file_size_in_bytes discipline): size-based planning —
    // broadcast-vs-shuffle decisions, compaction targeting — reads the
    // MANIFEST, never the filesystem
    val sizeLines = walked.map(st => s"fsize:${st.getLen}:${relOf(st.getPath)}")
    // a zero-file stage would commit a manifest no reader can resolve
    // a schema from — almost certainly an empty input upstream; fail
    // loudly rather than poison the version history
    require(staged.nonEmpty,
      s"stage produced no data files under $stageDir — refusing to " +
        "commit an unreadable version (empty input?)")
    val keyCol = sortCols.head
    // ALL manifest statistics from ONE footer walk (guide §6: footer
    // I/O is priced per open — the key-stat walk and the typed-stat
    // walk each opened every staged file, doubling the metadata round
    // trips per commit; now one open per file emits the `stat:` key
    // lines, the per-file `stat2:` typed lines AND the per-row-group
    // `stat3:` detail). Contracts unchanged: key stats stay
    // ALL-OR-NOTHING across the staged set (a partial set would hide
    // unlisted files from pruning), typed stats stay per-(file,
    // column) conservative, any walk failure records nothing.
    val keyOk = df.schema.fieldNames.contains(keyCol) &&
      df.schema(keyCol).dataType == LongType
    val typedCols = stat2Cols.filter(c => !c.contains(":"))
    val (statLines, stat2, stat3): (Seq[String], Seq[String], Seq[String]) =
      if (!keyOk && typedCols.isEmpty) (Seq.empty, Seq.empty, Seq.empty)
      else scala.util.Try {
        val (keyTry, fileStats, rgStats) = Layout.statsWithKey(
          df.sparkSession, staged.map(r => s"$dir/$r"),
          if (keyOk) Some(keyCol) else None, typedCols)
        (keyTry.map(_.groupBy(_.path).toSeq.map { case (p, gs) =>
            val rel = p.stripPrefix(s"$dir/")
            s"stat:$keyCol:${gs.map(_.rowCount).sum}:" +
              s"${gs.map(_.min).min}:${gs.map(_.max).max}:$rel"
          }).getOrElse(Seq.empty),
         fileStats.map(ts => s"stat2:${ts.column}:${ts.kind}:${ts.rows}:" +
           s"${ts.min}:${ts.max}:${ts.path.stripPrefix(s"$dir/")}"),
         rgStats.map(rg => s"stat3:${rg.column}:${rg.kind}:${rg.start}:" +
           s"${rg.len}:${rg.rows}:${rg.min}:${rg.max}:" +
           rg.path.stripPrefix(s"$dir/")))
      }.getOrElse((Seq.empty, Seq.empty, Seq.empty))
    // KMV NDV sketches for the DECLARED ndv columns: one distinct +
    // windowed-top-k pass over ONLY this commit's new files
    val ndvL: Seq[String] =
      if (ndvCols.isEmpty) Seq.empty
      else {
        val back = df.sparkSession.read.parquet(staged.map(r => s"$dir/$r"): _*)
        val cols = ndvCols.filter(c =>
          back.columns.contains(c) && !c.contains(":"))
        if (cols.isEmpty) Seq.empty
        else {
          // ONE pass sketches every declared column (guide §1.2) —
          // hashes per (file, column) bit-identical to the per-column
          // walk this replaced
          val sk = Ndv.fileSketchesMulti(back, cols)
          cols.flatMap { c =>
            sk.toSeq.collect { case ((cc, fname), s) if cc == c =>
              val rel = staged.find(r => fname.endsWith(r)).getOrElse(
                throw new IllegalStateException(
                  s"ndv sketch for unknown staged file $fname"))
              s"ndv:$c:${Ndv.encode(s)}:$rel"
            }
          }
        }
      }
    Staged(staged, nullable(df.schema).json, statLines, stat2 ++ stat3,
      ndvL, sizeLines)
  }

  /** Claim the next version number for a write PLANNED against
    * version `basedOn` — the optimistic-concurrency check every
    * writer must pass. The claim may sit above `basedOn` only across
    * ABORTED-transaction tombstones (their manifests hold version
    * numbers but no state); if any raw version in `(basedOn, top]`
    * is committed or still in flight, a concurrent writer advanced
    * the table after this write read its base, and committing above
    * it would silently drop the racer's rows from the table head (a
    * lost update) — so this throws and the caller re-reads latest
    * and retries. The create-exclusive manifest write remains the
    * backstop for two writers that both pass this check and race the
    * same number. */
  private[graft] def claimAbove(spark: SparkSession, dir: String,
                                basedOn: Long): Long = {
    val above = rawVersions(spark, dir).filter(_ > basedOn)
    above.foreach { rv =>
      val aborted = manifest(spark, dir, rv).metaValues("txn").headOption
        .exists(rec => txnState(spark, rec).contains(false))
      if (!aborted)
        throw new java.util.ConcurrentModificationException(
          s"snapshot write to $dir was planned against version $basedOn, " +
            s"but version $rv was committed (or is in flight) by a " +
            "concurrent writer — committing above it would drop the " +
            "racer's rows from the table head; re-read latest and retry")
    }
    above.lastOption.getOrElse(basedOn) + 1
  }

  /** Resolve an UNDECIDED transactional manifest sitting at the raw
    * top before claiming above it: force-abort it by winning its
    * create-exclusive record with `abort`. This is the liveness
    * valve — a crashed transaction can never write-lock its tables —
    * and the serializability guard: a writer never bases a commit on
    * a version whose fate is still open (either the force-abort wins
    * and the txn's own commit() throws, or the txn committed first
    * and [[latest]] sees it). Callers coordinating transactions
    * should not run plain writers against member tables mid-txn:
    * the plain writer WILL abort them. */
  private[operators] def resolveForWrite(spark: SparkSession, dir: String): Unit =
    rawVersions(spark, dir).lastOption.foreach { rv =>
      manifest(spark, dir, rv).metaValues("txn").headOption.foreach { rec =>
        if (txnState(spark, rec).isEmpty) writeTxnRecord(spark, rec, commit = false)
      }
    }

  /** Try to win a transaction record create-exclusively; returns
    * whether THIS call decided it. Only the contract's loser signal
    * ([[org.apache.hadoop.fs.FileAlreadyExistsException]] — see
    * [[CommitStore]]) means "someone else decided"; any other
    * IOException is a real store failure and propagates. */
  private def writeTxnRecord(spark: SparkSession, rec: String,
                             commit: Boolean): Boolean = {
    val p = new org.apache.hadoop.fs.Path(rec)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (p.getParent != null) f.mkdirs(p.getParent)
    try {
      commitStore.createExclusive(f, p,
        (if (commit) "commit\n" else "abort\n").getBytes("UTF-8"))
      txnCache.put(rec, java.lang.Boolean.valueOf(commit))
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** Publish the FIRST version of a snapshot table. `meta` lines ride
    * in the manifest like [[merge]]'s — in particular a streaming
    * bootstrap passes `batch:<id>` so the FIRST batch enters the
    * exactly-once ledger too (a replayed bootstrap batch is then
    * absorbed by [[mergeBatch]]'s high-water check instead of
    * re-merging its rows). */
  def publish(df: DataFrame, dir: String, bucketCol: String,
              sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
              numTasks: Int = 32, meta: Seq[String] = Nil,
              statsCols: Seq[String] = Nil,
              ndvCols: Seq[String] = Nil): Long =
    publishImpl(df, dir, bucketCol, sortCols, blockSize, numTasks, meta,
      statsCols, ndvCols)

  /** What the shared write paths ask of a table LAYOUT — its
    * placement arithmetic, nothing else (staging, alignment, the carry
    * rule and the commit are [[Snapshots]]'):
    *  - `locate`: ONE fold over the marked union of a write's incoming
    *    sides (their `locateCols` plus the [[UpdMark]] row marker) →
    *    the files those rows can live in, including the layout's own
    *    null guard;
    *  - `place`: derive the bucket (and curve) columns at the CURRENT
    *    epoch — `derived` names them so a rewrite drops the stale
    *    values first; staging buckets by `bucketCol`, sorts by
    *    `sortCols`;
    *  - `epochLines`: the per-file epoch lines of newly staged files.
    * Built from the manifest a write plans against, so the epoch it
    * places at is the head's. */
  private[operators] final case class Placement(
      bucketCol: String, sortCols: Seq[String], locateCols: Seq[String],
      locate: (Manifest, DataFrame) => Located,
      place: DataFrame => DataFrame = identity,
      derived: Seq[String] = Nil,
      epochLines: Seq[String] => Seq[String] = _ => Nil)

  /** A locate fold's outcome: the touched files; the same fold's
    * update-row count (0 = none, any positive value = some; -1 when no
    * fold ran); and the touched bucket count, which bounds the staging
    * tasks (rows land in exactly those buckets). */
  private[operators] final case class Located(files: Seq[String],
      updRows: Long, buckets: Int = Int.MaxValue)

  /** The locate fold's row marker: 1 on update rows, 0 on delete keys. */
  private[operators] val UpdMark = "__gupd"

  /** The FLAT layout: the caller supplies the bucket column; locate
    * is one grouped fold of the bucket values matched against the
    * files' path buckets. */
  private def flat(bucketCol: String, sortCols: Seq[String]): Manifest => Placement =
    _ => Placement(bucketCol, sortCols, Seq(bucketCol), (pm, marked) => {
      val rows = marked.groupBy(col(bucketCol).cast("long").as("__b"))
        .agg(sum(col(UpdMark))).collect()
      // fail fast with the contract, not an NPE deep in the plan — a
      // NULL bucket would otherwise stage into an unparseable directory
      val nulls = rows.filter(_.isNullAt(0))
      require(nulls.isEmpty,
        s"${if (nulls.exists(_.getLong(1) > 0)) "merge: update" else "delete: key"}" +
          s" rows carry NULL $bucketCol values — every row must have " +
          "a non-null bucket (derive it from the key upstream)")
      val touched = rows.map(_.getLong(0)).toSet
      Located(pm.files.filter(f => touched.contains(bucketOf(bucketCol)(f))),
        rows.map(_.getLong(1)).sum, touched.size)
    })

  /** The union of a write's incoming sides projected to the layout's
    * locate columns, each row marked update (1) or delete (0). */
  private def marked(p: Placement, updates: Seq[DataFrame],
                     deletes: Seq[DataFrame]): DataFrame =
    (updates.map(_ -> 1L) ++ deletes.map(_ -> 0L)).map { case (df, m) =>
      p.locateCols.foreach(c => require(df.columns.contains(c),
        s"update/delete rows must carry the layout column $c"))
      df.select(p.locateCols.map(col) :+ lit(m).as(UpdMark): _*)
    }.reduce(_.unionByName(_))

  /** The files `keys`' rows can live in under `p` — the key-only
    * [[Placement.locate]] a vectored delete plans its candidates with. */
  private[operators] def locateFiles(p: Placement, pm: Manifest,
                                     keys: DataFrame): Seq[String] =
    p.locate(pm, marked(p, Nil, Seq(keys))).files

  /** Stage already-placed rows under the table's PHYSICAL names with
    * its declared stats/ndv columns. */
  private[operators] def stagePlaced(p: Placement, pm: Manifest, dir: String,
                          placed: DataFrame, blockSize: Long,
                          numTasks: Int): Staged = {
    val tp = pm.toPhysical
    stage(toPhysicalDf(placed, tp), dir, tp.getOrElse(p.bucketCol, p.bucketCol),
      p.sortCols.map(c => tp.getOrElse(c, c)), blockSize, numTasks,
      stat2Cols = pm.statCols, ndvCols = pm.ndvCols)
  }

  /** The layouts' publish: [[publish]] plus the new files' epoch
    * lines (`epochLines`) and the layout's declarations in `extraMeta`. */
  private[operators] def publishImpl(df: DataFrame, dir: String, bucketCol: String,
                          sortCols: Seq[String], blockSize: Long,
                          numTasks: Int, extraMeta: Seq[String],
                          statsCols: Seq[String] = Nil,
                          ndvCols: Seq[String] = Nil,
                          epochLines: Seq[String] => Seq[String] = _ => Nil): Long = {
    val spark = df.sparkSession
    resolveForWrite(spark, dir)
    require(latest(spark, dir).isEmpty,
      s"$dir already has snapshots — use append")
    require((statsCols ++ ndvCols).forall(c => c.nonEmpty && !c.contains(":") &&
      !c.contains(",") && df.columns.contains(c)),
      s"stats/ndv columns must be existing plain-named columns: " +
        s"$statsCols / $ndvCols")
    val st = stage(df, dir, bucketCol, sortCols, blockSize, numTasks,
      stat2Cols = statsCols, ndvCols = ndvCols)
    // planned against "no committed state": anything committed during
    // staging is a conflict (claimAbove tolerates only tombstones)
    val v = claimAbove(spark, dir, 0L)
    val scLine =
      if (statsCols.isEmpty) Nil
      else Seq(s"statcols:${statsCols.mkString(",")}")
    val ncLine =
      if (ndvCols.isEmpty) Nil
      else Seq(s"ndvcols:${ndvCols.mkString(",")}")
    commit(spark, dir, v, st.rels,
      extraMeta ++ Seq("format:2", s"schema:${st.schemaJson}") ++ scLine ++
        ncLine ++ epochLines(st.rels) ++ st.statLines ++ st.stat2Lines ++
        st.ndvLines ++ st.sizeLines)
    v
  }

  /** Commit an incremental load: next version = previous files + the
    * newly staged ones (one new file per touched bucket). The new
    * manifest's schema is the ADDITIVE merge of the table's and the
    * batch's; kept files carry their stats forward unwalked. */
  def append(df: DataFrame, dir: String, bucketCol: String,
             sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
             numTasks: Int = 32): Long =
    appendImpl(df, dir, flat(bucketCol, sortCols), blockSize, numTasks)

  /** Swap a frame's columns logical → PHYSICAL for staging (renamed
    * columns write under their birth names so every file in the
    * table agrees — see [[rename]]). */
  private[operators] def toPhysicalDf(df: DataFrame, toPhys: Map[String, String]): DataFrame =
    if (toPhys.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(toPhys.getOrElse(c, c))): _*)

  /** The SHARED incremental-write prologue ([[append]] and
    * [[overwrite]] differ only in the kept file list): resolve, place
    * at the head's epoch, stage under physical names with the table's
    * declared stats/ndv columns, merge the schema additively. */
  private def stagedIncremental(df: DataFrame, dir: String,
      layout: Manifest => Placement, blockSize: Long,
      numTasks: Int): (Long, Manifest, Placement, Staged, String) = {
    val (prev, pm) = writeHead(df.sparkSession, dir, " — use publish")
    val p = layout(pm)
    val placed = p.place(df)
    val st = stagePlaced(p, pm, dir, placed, blockSize, numTasks)
    val schema = pm.schemaOpt match {
      case Some(ps) => mergeSchemas(ps, nullable(placed.schema)).json
      case None => st.schemaJson
    }
    (prev, pm, p, st, schema)
  }

  private[operators] def appendImpl(df: DataFrame, dir: String,
      layout: Manifest => Placement, blockSize: Long, numTasks: Int,
      extraMeta: Seq[String] = Nil): Long = {
    val (prev, pm, p, st, schema) =
      stagedIncremental(df, dir, layout, blockSize, numTasks)
    commitReplacing(df.sparkSession, dir, pm, prev, pm.files, st, schema,
      extraMeta ++ p.epochLines(st.rels))
  }

  /** REPLACE the table head's content in one commit (SQL `INSERT
    * OVERWRITE` / `df.writeTo(...).overwrite(lit(true))` land here
    * through the catalog): the new version references ONLY the newly
    * staged files — previous versions keep reading their own state
    * (time travel across an overwrite works) and [[vacuum]] reclaims
    * the dropped files once retention passes them. Carried metadata
    * follows the drop: props, colmap, stats/ndv DECLARATIONS and the
    * batch-ledger header carry; per-file stats/sizes/vectors do NOT
    * (they describe files this version no longer references). Schema
    * stays additive like [[append]] — an overwrite may add/widen
    * columns, never drop them (the read surface of a table must not
    * shrink behind a reader's back; rebuild under a new dir for a
    * breaking change).
    *
    * FLAT tables only — same refusal as the SQL path
    * ([[NamedTables.overwriteInto]]): an overwrite of a z/hash/width
    * table writes files with NO layout epoch lines, silently
    * de-clustering it (z keeps its `zlayout` prop but every new file
    * lands on the conservative unknown-epoch path). Re-publishing
    * through the layout's own APIs is the supported move. */
  def overwrite(df: DataFrame, dir: String, bucketCol: String,
                sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
                numTasks: Int = 32): Long = {
    val spark = df.sparkSession
    latest(spark, dir).foreach { cur =>
      val layout = NamedTables.layoutAt(spark, dir, cur)
      require(layout == "flat",
        s"overwrite is not supported on a $layout-layout table ($dir) " +
          "— overwriting a clustered table is a re-publish decision; " +
          "use the layout's own publish APIs")
    }
    val (prev, pm, _, st, schema) = stagedIncremental(df, dir,
      flat(bucketCol, sortCols), blockSize, numTasks)
    commitReplacing(spark, dir, pm, prev, Nil, st, schema)
  }

  /** A file-pruning hook for [[readFiles]]: pushed-down data filters
    * in, `Some(surviving manifest-relative files)` out (None = no
    * claim, read everything). [[statsPruner]] builds one from a
    * manifest's typed stats. */
  private[operators] type FilePruner =
    Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      Option[Set[String]]
  private[operators] val NoPrune: FilePruner = _ => None

  /** The manifest-relative path of the file a row came from, derived
    * from `_metadata.file_path` by stripping the table's QUALIFIED
    * directory prefix — the metadata value is the same qualified URI
    * the [[graftext.ManifestFileIndex]] statuses were built from
    * (`makeQualified(dir + "/" + rel)`), so dropping `qualDir + "/"`
    * is exact. NOT derived by splitting on the "/data/" substring:
    * a table directory whose own last segment is named "data"
    * (e.g. /warehouse/tbl/data) would split to "data/data/<token>/…"
    * — rel paths no manifest carries, so DV lines would record
    * against ghost files and readFiles' rel filter would silently
    * drop them (erased rows resurrecting on every read). */
  private def relPathCol(qualDir: String): org.apache.spark.sql.Column =
    col("_metadata.file_path").substr(lit(qualDir.length + 2), lit(Int.MaxValue))

  /** Internal row-position columns ([[readFiles]] `withPos`):
    * manifest-relative source file and within-file row index — what a
    * deletion vector addresses. */
  private[operators] val FileCol = "__gfile"
  private[operators] val PosCol = "__gpos"

  /** Read a set of manifest-relative files. With a recorded schema
    * (format 2) this is ONE relation over a MANIFEST-BACKED
    * [[org.apache.spark.sql.graftext.ManifestFileIndex]] (the public
    * Delta-Lake shape: the log's file list + recorded `#fsize` byte
    * lengths become the FileIndex inside a HadoopFsRelation):
    *  - plan size flat in commit count, no partition discovery (the
    *    bucket is a data column), files that predate a column
    *    null-fill natively (additive evolution);
    *  - ZERO filesystem calls at planning — the stock path's
    *    InMemoryFileIndex `getFileStatus`es every file per query, a
    *    million metadata ops at a million files (`sizes` misses fall
    *    back to one stat each — legacy manifests only);
    *  - the relation reports the manifest byte sum as `sizeInBytes`,
    *    so Spark's OWN optimizer sees real table statistics: a plain
    *    `read(fact).join(smallDim)` broadcasts under the session's
    *    `autoBroadcastJoinThreshold` (× its documented
    *    `fileCompressionFactor`) with no JoinPlanner call;
    *  - `pruner` (when a manifest's typed stats back it) drops whole
    *    files at PLANNING time from pushed-down range predicates —
    *    data skipping on every plain `.filter`, not just the explicit
    *    prunedScan APIs.
    * Everything downstream is the stock V1 parquet path (vectorized
    * reader, pushdown, codegen). `colMap` (physical → logical,
    * format 2.1) handles RENAMED columns: the relation reads under
    * the files' PHYSICAL names and ONE projection restores the
    * logical surface — still a single scan. Without a recorded schema
    * (legacy manifests written via raw [[commit]]), falls back to the
    * per-token basePath union that recovers directory-partition
    * columns. */
  private[operators] def readFiles(spark: SparkSession, dir: String,
                        rels: Seq[String],
                        schema: Option[StructType],
                        colMap: Map[String, String] = Map.empty,
                        sizes: Map[String, Long] = Map.empty,
                        pruner: FilePruner = NoPrune,
                        dv: Map[String, Dv.Vec] = Map.empty,
                        withPos: Boolean = false)
      : DataFrame =
    schema match {
    case Some(s) =>
      val f = fs(spark, dir)
      val qual = rels.map(r =>
        r -> f.makeQualified(new org.apache.hadoop.fs.Path(s"$dir/$r")))
      val files = qual.map { case (r, p) =>
        p -> sizes.getOrElse(r, f.getFileStatus(p).getLen)
      }
      val toPhys = colMap.map(_.swap)
      val physSchema =
        if (colMap.isEmpty) s
        else StructType(s.fields.map(fd =>
          fd.copy(name = toPhys.getOrElse(fd.name, fd.name))))
      val qualOf = qual.toMap
      val qualDir = f.makeQualified(new org.apache.hadoop.fs.Path(dir))
      val base = org.apache.spark.sql.graftext.ManifestFileIndex.relation(
        spark, qualDir, files,
        physSchema,
        filters => pruner(filters).map(_.map(r => qualOf(r).toString)))
      // DELETION VECTORS: a file with recorded dead positions reads
      // through one per-row test on (file, position) in the scanning
      // task — rewrites of those files therefore materialize the DV for
      // free, and a DV-less read pays nothing (the common case: no
      // extra columns, same single codegen'd scan)
      val relsSet = rels.toSet
      val live = dv.filter { case (r, v) => v.count > 0 && relsSet.contains(r) }
      val anyDv = live.nonEmpty
      val posed =
        if (!anyDv && !withPos) base
        else base.withColumn(FileCol, relPathCol(qualDir.toString))
          .withColumn(PosCol, col("_metadata.row_index"))
      val filtered =
        if (!anyDv) posed
        else posed.filter(!Dv.deadTest(spark, dir, live)(col(FileCol), col(PosCol)))
      val surface = s.fields.map(fd =>
        col(toPhys.getOrElse(fd.name, fd.name)).as(fd.name)) ++
        (if (withPos) Seq(col(FileCol), col(PosCol)) else Nil)
      if (colMap.isEmpty && !anyDv && !withPos) base
      else filtered.select(surface: _*)
    case None =>
      val byToken = rels.groupBy(_.split("/")(1))
      byToken.toSeq.sortBy(_._1).map { case (token, fls) =>
        spark.read.option("basePath", s"$dir/data/$token")
          .parquet(fls.map(f => s"$dir/$f"): _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Bucket value encoded in a manifest-relative file path (the
    * `__bdir=N` staging directory; legacy manifests used the bucket
    * column's own name). */
  private def bucketOf(bucketCol: String)(rel: String): Long =
    fileBucket(rel).getOrElse(throw new IllegalArgumentException(
      s"data file outside a bucket directory: $rel"))

  /** The bucket a manifest-relative data file belongs to, parsed
    * from its staging directory — the public path-inspection helper
    * gates and specs use. */
  def fileBucket(rel: String): Option[Long] =
    rel.split("/").find(_.contains("=")).flatMap { seg =>
      scala.util.Try(seg.substring(seg.indexOf('=') + 1).toLong).toOption
    }

  /** One stat test of the file-skip rule: given a recorded stat
    * `(kind, minEnc, maxEnc)` of a file or row group, can it hold a
    * row the conjunct accepts? */
  private type StatTest = (String, String, String) => Boolean

  /** THE file-skip rule of the manifest path — the only code that
    * compares a recorded min/max with a predicate bound. Each bare
    * `attr <op> literal` conjunct (=, <=>, <, <=, >, >=, IN, InSet,
    * StartsWith) on a column in `statCols` becomes one
    * `(physical column, test)`. A bound of the stat's own family
    * (integral ↔ kind "i", floating ↔ "d", string ↔ "s") prunes; a
    * bound of any other family, a null, a cast or an unknown shape
    * makes no claim, so the stat is kept. Null rows cannot match a
    * comparison, so min/max exclusion is sound. Attribute names are
    * PHYSICAL (stats are stored physical-keyed — rename-proof). */
  private def statTests(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      statCols: Set[String]): Seq[(String, StatTest)] = {
    import org.apache.spark.sql.catalyst.expressions._
    def longTest(mode: Char, v: Long): StatTest = (kind, mn, mx) =>
      kind != "i" || (mode match {
        case '=' => mn.toLong <= v && v <= mx.toLong
        case '>' => mx.toLong > v
        case 'g' => mx.toLong >= v
        case '<' => mn.toLong < v
        case _ => mn.toLong <= v // 'l'
      })
    def dblTest(mode: Char, v: Double): StatTest = (kind, mn, mx) =>
      kind != "d" || (mode match {
        case '=' => mn.toDouble <= v && v <= mx.toDouble
        case '>' => mx.toDouble > v
        case 'g' => mx.toDouble >= v
        case '<' => mn.toDouble < v
        case _ => mn.toDouble <= v
      })
    def strTest(mode: Char, v: Array[Byte]): StatTest = (kind, mn, mx) =>
      kind != "s" || {
        val dec = java.util.Base64.getDecoder
        lazy val lo = dec.decode(mn)
        lazy val hi = dec.decode(mx)
        mode match {
          case '=' => !Layout.bytesLt(v, lo) && !Layout.bytesLt(hi, v)
          case '>' => Layout.bytesLt(v, hi) // max > v
          case 'g' => !Layout.bytesLt(hi, v) // max >= v
          case '<' => Layout.bytesLt(lo, v) // min < v
          case _ => !Layout.bytesLt(v, lo) // min <= v
        }
      }
    def valueTest(mode: Char, value: Any): Option[StatTest] = value match {
      case i: java.lang.Integer => Some(longTest(mode, i.longValue))
      case j: java.lang.Long => Some(longTest(mode, j.longValue))
      case sh: java.lang.Short => Some(longTest(mode, sh.longValue))
      case b: java.lang.Byte => Some(longTest(mode, b.longValue))
      case d: java.lang.Double => Some(dblTest(mode, d.doubleValue))
      case fl: java.lang.Float => Some(dblTest(mode, fl.doubleValue))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(strTest(mode, u.getBytes))
      case _ => None // null or another type: no claim
    }
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if statCols.contains(a.name) => Some(a.name)
      case _ => None
    }
    def mk(a: Expression, mode: Char, l: Literal): Option[(String, StatTest)] =
      for (c <- attrOf(a); t <- valueTest(mode, l.value)) yield (c, t)
    // a stat survives an IN list iff ANY member's point-test survives
    def anyOf(c: String, values: Seq[Any]): Option[(String, StatTest)] = {
      val each = values.map(valueTest('=', _))
      if (each.forall(_.isDefined)) {
        val ts = each.flatten
        Some(c -> ((kind, mn, mx) => ts.exists(_(kind, mn, mx))))
      } else None
    }
    // strings starting with prefix p live in [p, succ(p)): succ
    // increments the last non-0xFF byte (all-0xFF → unbounded above)
    def startsWithTest(p: Array[Byte]): StatTest = {
      val succ: Option[Array[Byte]] = {
        val b = p.clone()
        var i = b.length - 1
        while (i >= 0 && b(i) == -1) { b(i) = 0; i -= 1 }
        if (i < 0) None else { b(i) = (b(i) + 1).toByte; Some(b.take(i + 1)) }
      }
      (kind, mn, mx) =>
        kind != "s" || {
          val dec = java.util.Base64.getDecoder
          !Layout.bytesLt(dec.decode(mx), p) && // max >= p
            succ.forall(u => Layout.bytesLt(dec.decode(mn), u)) // min < succ
        }
    }
    def test(e: Expression): Option[(String, StatTest)] = e match {
      case EqualTo(a, l: Literal) => mk(a, '=', l)
      case EqualTo(l: Literal, a) => mk(a, '=', l)
      case EqualNullSafe(a, l: Literal) if l.value != null => mk(a, '=', l)
      case EqualNullSafe(l: Literal, a) if l.value != null => mk(a, '=', l)
      case GreaterThan(a, l: Literal) => mk(a, '>', l)
      case GreaterThan(l: Literal, a) => mk(a, '<', l)
      case GreaterThanOrEqual(a, l: Literal) => mk(a, 'g', l)
      case GreaterThanOrEqual(l: Literal, a) => mk(a, 'l', l)
      case LessThan(a, l: Literal) => mk(a, '<', l)
      case LessThan(l: Literal, a) => mk(a, '>', l)
      case LessThanOrEqual(a, l: Literal) => mk(a, 'l', l)
      case LessThanOrEqual(l: Literal, a) => mk(a, 'g', l)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        attrOf(a).flatMap(anyOf(_, vs.map(_.asInstanceOf[Literal].value)))
      case InSet(a, hset) if hset.nonEmpty =>
        attrOf(a).flatMap(anyOf(_, hset.toSeq))
      case StartsWith(a, l: Literal) =>
        attrOf(a).flatMap(c => l.value match {
          case u: org.apache.spark.unsafe.types.UTF8String =>
            Some(c -> startsWithTest(u.getBytes))
          case _ => None
        })
      case _ => None
    }
    filters.flatMap(test)
  }

  /** The PHYSICAL columns whose recorded stats the file-skip rule
    * judges: the declared `#stat2` columns plus the layout key's
    * `#stat` lines. DECIMAL columns are left out: parquet records their
    * min/max as UNSCALED integers (kind "i"), which no bound can be
    * compared with without the scale. */
  private def statColumns(m: Manifest): Set[String] = {
    val decimals = m.schemaOpt.toSeq.flatMap(_.fields).collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
        m.toPhysical.getOrElse(f.name, f.name)
    }
    (m.statCols ++ m.metaValues("stat").flatMap(_.split(":", 2).headOption))
      .toSet -- decimals
  }

  /** Build a [[FilePruner]] from a manifest's recorded per-file stats
    * (`#stat2` typed lines for the declared stats columns, plus the
    * layout key's own `#stat` lines) under the one file-skip rule,
    * [[statTests]]: pushed-down comparison predicates drop whole
    * files at PLANNING time — Delta-style data skipping for every
    * plain `.filter` on a snapshot read and for the range and box
    * scans. A file without a recorded stat for the column is kept,
    * and no footer is opened to find one. The residual filter still
    * runs — pruning never changes answers, only I/O. */
  private[operators] def statsPruner(m: Manifest): FilePruner = {
    val availCols = statColumns(m)
    if (availCols.isEmpty) NoPrune
    else filters => {
      val tests = statTests(filters, availCols)
      if (tests.isEmpty) None
      else {
        // per-column per-file stats: typed #stat2 first, the layout
        // key's #stat lines (kind "i" by construction) as fallback
        val byCol = tests.map(_._1).distinct.map { c =>
          val typed = m.stats2(c).map { case (rel, (_, kind, mn, mx)) =>
            rel -> ((kind, mn, mx))
          }
          val keyed = m.stats(c).map { case (rel, (_, mn, mx)) =>
            rel -> (("i", mn.toString, mx.toString))
          }
          c -> (keyed ++ typed)
        }.toMap
        Some(m.files.filter { rel =>
          tests.forall { case (c, t) =>
            byCol(c).get(rel) match {
              case Some((kind, mn, mx)) => t(kind, mn, mx)
              case None => true // no stats claim: must read the file
            }
          }
        }.toSet)
      }
    }
  }

  /** Read the table at version `v` (time travel) — under that
    * VERSION's logical schema and column names (pre-rename versions
    * read under the old names), with the manifest's byte sizes as the
    * relation's reported statistics and its per-file stats as the
    * planning-time file pruner (see [[readFiles]]). */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val m = committedManifest(spark, dir, v)
    readFiles(spark, dir, m.files, m.schemaOpt, m.colMap, m.fileSizes,
      statsPruner(m), m.dvs)
  }

  /** Read the latest version. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, dir, latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots")))

  /** Compaction through the manifest layer: merge every bucket that
    * is FRAGMENTED in the latest version (≥ 2 files) into one staged
    * key-sorted file, and commit a manifest re-pointing those
    * buckets. Old files are NOT deleted — earlier versions keep
    * reading them; [[vacuum]] reclaims them once their last
    * referencing version is dropped. Never breaks a reader. */
  def compact(spark: SparkSession, dir: String, bucketCol: String,
              sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024):
      Long = {
    val (prev, pm) = writeHead(spark, dir)
    val bOf = bucketOf(bucketCol) _
    val frag = pm.files.groupBy(bOf).filter(_._2.size >= 2)
    // DELETION-VECTOR reclaim: a DV-bearing file rewrites here even if
    // its bucket is not fragmented — the read is DV-filtered, so the
    // rewrite MATERIALIZES the deletes and the dv line drops
    // (vacuum then reclaims the pre-delete bytes)
    val dvBuckets = pm.files.filter(pm.dvs.contains).map(bOf).toSet
    val rewriteBuckets = frag.keySet ++ dvBuckets
    if (rewriteBuckets.isEmpty) return prev
    restage(spark, dir, pm, prev,
      pm.files.filter(f => rewriteBuckets.contains(bOf(f))),
      flat(bucketCol, sortCols)(pm), blockSize, rewriteBuckets.size)
  }

  /** Every compaction's tail (flat and the layouts' epoch migrators —
    * each picks only its rewrite set and task count): read `rewrite`
    * with renames and deletion vectors applied, re-place every row at
    * the CURRENT epoch, stage, and commit kept + new files. */
  private[operators] def restage(spark: SparkSession, dir: String,
      pm: Manifest, prev: Long, rewrite: Seq[String], p: Placement,
      blockSize: Long, numTasks: Int): Long = {
    val rows = readFiles(spark, dir, rewrite, pm.schemaOpt, pm.colMap,
      pm.fileSizes, dv = pm.dvs).drop(p.derived: _*)
    val st = stagePlaced(p, pm, dir, p.place(rows), blockSize, numTasks)
    val schema = pm.schemaOpt.map(nullable(_).json).getOrElse(st.schemaJson)
    val rewritten = rewrite.toSet
    commitReplacing(spark, dir, pm, prev, pm.files.filterNot(rewritten), st,
      schema, p.epochLines(st.rels))
  }

  /** Run a snapshot WRITE under the optimistic-concurrency RETRY loop
    * the claim contract expects of callers: every write function
    * plans from `latest()` at entry, [[claimAbove]] throws
    * ConcurrentModificationException when a racer committed above the
    * planned base, and the create-exclusive commit throws
    * FileAlreadyExists when two writers race the same number — both
    * are "re-plan from the new head and try again" signals, which is
    * exactly what re-executing the closure does. ONLY those two
    * racing-loser signals retry; real failures propagate
    * immediately. Usage:
    * `Snapshots.retryingWrite() { Snapshots.append(df, dir, ...) }` */
  def retryingWrite[T](maxAttempts: Int = 5)(op: => T): T = {
    require(maxAttempts >= 1, "need at least one attempt")
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e @ (_: java.util.ConcurrentModificationException |
                  _: org.apache.hadoop.fs.FileAlreadyExistsException) =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One maintenance pass's outcome. */
  final case class Maintenance(compactedTo: Option[Long],
                               vacuumedFrom: Option[Long],
                               manifestsDropped: Long, filesDeleted: Long,
                               checkpointCovers: Long)

  /** ONE maintenance entry point, driven by the table's OWN carried
    * properties — the piece that turns the format's maintenance
    * primitives into something a scheduler can call blindly per
    * table (no per-table configuration lives outside the table):
    *
    *  1. [[compact]] — always offered; a no-op commit-free return
    *     when no bucket is fragmented;
    *  2. retention vacuum — only if the table declares
    *     `prop:retainversions=N`: keep the newest N committed
    *     versions, [[vacuum]] the rest (with `retainMs` still
    *     guarding concurrent writers' staged files — pass 0 only
    *     under exclusive access, same contract as vacuum itself).
    *     Malformed/absent property → no deletion, ever;
    *  3. [[checkpoint]] — always (cheap; keeps cold attach at one
    *     file read even between `ckptevery` hits).
    *
    * Deliberately NOT run inside commits: compaction is a data
    * rewrite and vacuum is the format's only destructive operation —
    * neither belongs on a writer's latency path nor under its
    * permissions. This is the side-channel runner the `ckptevery`
    * in-commit policy cannot be. */
  def maintain(spark: SparkSession, dir: String, bucketCol: String,
               sortCols: Seq[String], retainMs: Long = DefaultRetainMs,
               blockSize: Long = 128L * 1024 * 1024): Maintenance =
    maintainImpl(spark, dir, retainMs,
      () => compact(spark, dir, bucketCol, sortCols, blockSize))

  /** The maintenance core behind [[maintain]] and the layout tables'
    * variants ([[ZOrderTable.maintain]], [[HashBucketedTable
    * .maintain]]) — each layout supplies its OWN compactor (the step
    * that knows about cells/epochs); retention + checkpoint are
    * layout-independent. */
  private[operators] def maintainImpl(spark: SparkSession, dir: String,
                                      retainMs: Long,
                                      compactor: () => Long): Maintenance = {
    val before = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val props = propsAt(spark, dir, before)
    val afterCompact = compactor()
    val compacted = if (afterCompact != before) Some(afterCompact) else None
    val retainN = props.get("retainversions")
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ >= 1)
    val (vFrom, dropped, deleted) = retainN match {
      case Some(n) => retentionVacuum(spark, dir, n, retainMs)
      case None => (None, 0L, 0L)
    }
    val covers = checkpoint(spark, dir)
    Maintenance(compacted, vFrom, dropped, deleted, covers)
  }

  /** VERSION-retention vacuum: keep the newest `n` committed versions
    * and [[vacuum]] everything older — the arithmetic behind
    * `prop:retainversions` maintenance and the SQL `VACUUM ... RETAIN
    * n VERSIONS` statement (ONE implementation, so the two surfaces
    * cannot disagree on the clamp). Returns (keepFrom if anything
    * dropped, versions dropped, files deleted). */
  private[graft] def retentionVacuum(spark: SparkSession, dir: String,
                                     n: Long, retainMs: Long)
      : (Option[Long], Long, Long) = {
    require(n >= 1, s"retention must keep at least one version (got $n)")
    val vs = versions(spark, dir)
    val byRetention = vs.takeRight(math.min(n, vs.size.toLong).toInt).head
    // never vacuum past the newest batch-bearing version: dropping
    // the whole exactly-once ledger would let a restart's
    // re-delivered batch RE-APPLY (defense in depth — carriedBatch
    // keeps the newest manifest batch-bearing, so this clamp only
    // binds when a foreign writer broke the carry chain)
    val keepFrom = newestBatchVersion(spark, dir) match {
      case Some(bv) => math.min(byRetention, bv)
      case None => byRetention
    }
    if (keepFrom > vs.head) {
      val (d, del, _) = vacuum(spark, dir, keepFrom, retainMs)
      (Some(keepFrom), d, del)
    } else (None, 0L, 0L)
  }

  /** MERGE (upsert) — the CDC apply step: commit a new version where
    * every target row whose key matches an update row is REPLACED
    * and every update row is inserted (rows with unmatched keys are
    * pure inserts, including into brand-new buckets). Only the
    * buckets the updates touch are rewritten — untouched buckets
    * share their files with the previous version byte-for-byte, and
    * earlier versions keep reading the pre-merge state (time travel
    * across a merge works). Updates must carry at least the target's
    * columns (additive evolution: they may add new ones), including
    * `bucketCol` — NON-NULL on every row; key uniqueness WITHIN the
    * update batch is the caller's contract (duplicate update keys
    * all insert — dedup upstream, e.g. q12's idxmax keep-latest).
    *
    * Scale: one driver-side distinct on the touched-bucket ids
    * (bounded by bucket count, a manifest-sized list), one anti-join
    * of ONLY the touched buckets' rows against the update keys, one
    * staged write of those buckets. Cost ∝ touched data, never
    * table size. */
  def merge(updates: DataFrame, dir: String, bucketCol: String,
            keyCols: Seq[String], sortCols: Seq[String],
            blockSize: Long = 128L * 1024 * 1024,
            numTasks: Int = 32, meta: Seq[String] = Nil): Long =
    mergeImpl(Some(updates), None, dir, flat(bucketCol, sortCols), keyCols,
      blockSize, numTasks, meta)

  /** DELETE rows by key — the missing half of CDC apply (and the
    * GDPR-erasure / retention-purge primitive): commit a new version
    * where every target row whose key matches a `keys` row is GONE.
    * `keys` must carry `keyCols` and a non-null `bucketCol` (locate
    * the buckets without scanning the table). Only buckets holding
    * delete keys are rewritten; a bucket whose every row is deleted
    * simply drops out of the manifest (no empty files). Earlier
    * versions keep reading the pre-delete state — time travel across
    * a delete works, and the data files are reclaimed by [[vacuum]]
    * once no kept version references them (deletion of HISTORY is
    * still vacuum's job alone; this deletes from the table HEAD).
    * Keys matching nothing simply rewrite their bucket unchanged.
    * Cost ∝ touched buckets, never table size. */
  def delete(keys: DataFrame, dir: String, bucketCol: String,
             keyCols: Seq[String], sortCols: Seq[String],
             blockSize: Long = 128L * 1024 * 1024,
             numTasks: Int = 32, meta: Seq[String] = Nil): Long =
    mergeImpl(None, Some(keys), dir, flat(bucketCol, sortCols), keyCols,
      blockSize, numTasks, meta)

  /** MERGE-ON-READ delete (deletion vectors — the public Delta DV /
    * Iceberg position-delete shape): commit a new version where every
    * row matching a `keys` row is gone, while writing ZERO data files
    * — the commit is METADATA-ONLY, recording the matched rows'
    * within-file positions as `#dv` lines. This is what a GDPR
    * erasure of scattered keys needs at 100 TB: [[delete]]
    * (copy-on-write) rewrites every bucket holding a matched key —
    * potentially a large fraction of the table for a few thousand
    * rows — where this pays ONE read of the candidate buckets
    * (positions located, nothing staged) and a small manifest line.
    * Reads apply the vectors with a per-row (file, position) test in
    * the scanning task; time travel still reads the pre-delete state;
    * the change feed emits the newly-dead rows as deletes; any later
    * rewrite of a vectored file (merge, [[compact]] — which targets
    * DV-bearing files explicitly) MATERIALIZES the vector and drops
    * the line, and [[vacuum]] then reclaims the bytes. Same key
    * contract as [[delete]]: `keys` carries `keyCols` plus a non-null
    * `bucketCol` locating the buckets without a table scan.
    * Vectors past [[Dv.MaxInlinePositions]] per file refuse — use
    * the copy-on-write delete (rewriting is cheaper at that churn).
    * Returns the previous version when nothing matches (no empty
    * commits). */
  def deleteVectored(keys: DataFrame, dir: String, bucketCol: String,
                     keyCols: Seq[String]): Long =
    deleteVectoredBy(keys, dir, keyCols,
      pm => locateFiles(flat(bucketCol, Nil)(pm), pm, keys))

  /** [[deleteVectored]]'s engine with the CANDIDATE-FILE selection
    * abstracted out — the layout tables route their own epoch
    * arithmetic through here (z: cells at each epoch's shift; hash:
    * key hashes at each epoch's modulus) so a scattered erasure on a
    * layout table is metadata-only too, instead of the full bucket
    * rewrites the layouts' copy-on-write delete pays. `candidatesOf`
    * sees the LATEST manifest (the one the commit will be planned
    * against) and returns the files that could hold matching rows —
    * over-selection costs a wasted read, under-selection loses
    * deletes, so be conservative. */
  private[operators] def deleteVectoredBy(keys: DataFrame, dir: String,
      keyCols: Seq[String], candidatesOf: Manifest => Seq[String]): Long = {
    require(keyCols.nonEmpty, "delete needs key columns")
    val spark = keys.sparkSession
    deleteVectoredHits(spark, dir) { pm =>
      val candidates = candidatesOf(pm)
      if (candidates.isEmpty) None
      // ONE read of the candidate buckets (already-dead rows excluded
      // so a vector never double-records), broadcast-semi-joined to the
      // keys: the matched rows' (file, position) pairs ARE the delete
      else Some(readFiles(spark, dir, candidates, pm.schemaOpt, pm.colMap,
          pm.fileSizes, dv = pm.dvs, withPos = true)
        .join(broadcast(keys.select(keyCols.map(col): _*).distinct()),
          keyCols, "left_semi")
        .select(FileCol, PosCol))
    }
  }

  /** MERGE-ON-READ delete by PREDICATE — the SQL `DELETE FROM ...
    * WHERE` engine ([[graft.sources.GraftTable]]'s SupportsDelete
    * lands here): rows matching `condition` at the table HEAD commit
    * as deletion-vector positions, ZERO files written — the shape a
    * GDPR `DELETE FROM t WHERE id IN (...)` wants on ANY layout
    * (positions are layout-agnostic; no key/bucket contract needed).
    * File pruning comes free: pushed-down conjuncts of `condition`
    * drop whole files at planning via the manifest's typed stats.
    * The per-file [[Dv.MaxInlinePositions]] refusal applies — a
    * rewrite-scale delete (e.g. an unfiltered TRUNCATE) refuses
    * toward the copy-on-write paths. */
  def deleteWhere(spark: SparkSession, dir: String,
                  condition: org.apache.spark.sql.Column): Long =
    deleteVectoredHits(spark, dir) { pm =>
      Some(readFiles(spark, dir, pm.files, pm.schemaOpt, pm.colMap,
          pm.fileSizes, statsPruner(pm), dv = pm.dvs, withPos = true)
        .filter(condition)
        .select(FileCol, PosCol))
    }

  /** The vectored-delete ENGINE: `hitsOf` turns the latest manifest
    * into the (file, position) frame to kill — None/empty means
    * nothing matched and nothing commits. ONE pass ([[Dv.grow]]): the
    * hits (already-dead rows excluded by `hitsOf`'s own DV-filtered
    * read) shuffle by file, and each file's task guards the per-file
    * budget, grows the vector and stores it inline or as a sidecar;
    * the driver receives one row per touched file, refuses if any file
    * went over budget, and otherwise makes one metadata-only commit
    * carrying everything else verbatim. */
  private def deleteVectoredHits(spark: SparkSession, dir: String)(
      hitsOf: Manifest => Option[DataFrame]): Long = {
    val (prev, pm) = writeHead(spark, dir)
    val schema = pm.schemaOpt.map(nullable(_).json).getOrElse(
      throw new IllegalArgumentException(
        s"$dir predates manifest format 2 — deleteVectored needs a schema"))
    val grown = hitsOf(pm) match {
      case None => return prev
      case Some(hits) => Dv.grow(dir, pm.dvs, hits)
    }
    grown.foreach { case (rel, n, v) =>
      require(v.nonEmpty,
        s"deleteVectored would grow $rel's vector to $n positions " +
          s"(> ${Dv.MaxInlinePositions}) — use the copy-on-write delete; " +
          "rewriting is cheaper at that churn")
    }
    if (grown.isEmpty) return prev
    // every file is kept: untouched files keep their existing lines
    // VERBATIM (inline or sidecar ref) and their stats (now per-FILE
    // upper bounds; rowCountAt subtracts the dead positions); grown
    // files re-encode (the old sidecar becomes an orphan; vacuum
    // reclaims it once no kept manifest references it)
    val grownRels = grown.iterator.map(_._1).toSet
    commitReplacing(spark, dir, pm, prev, pm.files, Staged(Nil, schema, Nil),
      schema, grown.sortBy(_._1).toSeq.map { case (rel, _, v) => Dv.line(rel, v.get) },
      replaced = l => (l.startsWith("dv:") || l.startsWith("dvf:")) &&
        grownRels.contains(lineRel(l)))
  }

  /** Upserts and deletes in ONE commit — the full CDC apply step a
    * net change batch needs (replaced keys arrive as upserts, gone
    * keys as deletes; both land atomically in one version). Keep the
    * update and delete key sets DISJOINT for CDC applies (a replaced
    * key is an upsert, not a delete+insert) — that disjointness is
    * exactly what [[graft.streaming.ChangeFeed.net]] plus a same-key
    * anti-join gives a consumer. A key present on BOTH sides is
    * dropped from its delete-side bucket and re-inserted from the
    * update side (the update wins) — the behavior
    * [[ZOrderTable.mergeMoving]] uses deliberately to relocate rows
    * whose bucket changed. */
  def applyChanges(updates: DataFrame, deletes: DataFrame, dir: String,
                   bucketCol: String, keyCols: Seq[String],
                   sortCols: Seq[String],
                   blockSize: Long = 128L * 1024 * 1024,
                   numTasks: Int = 32, meta: Seq[String] = Nil): Long =
    mergeImpl(Some(updates), Some(deletes), dir, flat(bucketCol, sortCols),
      keyCols, blockSize, numTasks, meta)

  /** THE key-rewrite pipeline — every merge, delete and
    * [[applyChanges]] on every layout (`layout` supplies only the
    * placement arithmetic, see [[Placement]]):
    *  1. persist the sides only when deletes are present;
    *  2. ONE locate fold over the marked union of both sides;
    *  3. read the touched files (renames and deletion vectors applied);
    *  4. widening alignment, anti-join the replaced/deleted keys, union
    *     the updates;
    *  5. the emptiness probe, only when the fold counted no update rows;
    *  6. place at the current epoch, stage under physical names;
    *  7. commit through the carry rule plus the new files' epoch lines.
    * Only the touched files are rewritten — untouched ones share their
    * bytes with the previous version, and earlier versions keep reading
    * the pre-merge state. */
  private[operators] def mergeImpl(updatesOpt: Option[DataFrame],
      deletesOpt: Option[DataFrame], dir: String,
      layout: Manifest => Placement, keyCols: Seq[String], blockSize: Long,
      numTasks: Int, meta: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "merge/delete needs key columns")
    val spark = updatesOpt.orElse(deletesOpt).get.sparkSession
    val (prev, pm) = writeHead(spark, dir, " — use publish")
    val p = layout(pm)
    // MATERIALIZE each incoming side once on the TWO-SIDED (CDC) shape
    // (guide §5 — with deletes present a merge consumes its sides
    // through several independent actions: the locate fold, the
    // emptiness probe, and the staging write, the last two via the
    // dropKeys anti-join). Without a persist every action recomputes
    // the side's full upstream DAG — for a streaming CDC microbatch
    // that is the whole changed-file read + net() shuffle, measured
    // 0.7–1.8 s PER ACTION on q178's replica at sf0.1. Batches are
    // churn-sized (never table-sized), so MEMORY_AND_DISK is safe at
    // any scale; the same materialize-the-source discipline Delta's
    // MERGE applies. An updates-ONLY merge deliberately does NOT
    // persist: its side feeds one fold plus one write, and the
    // materialization tax measured LARGER than the saved recompute on
    // ordinary parquet-backed batches (+0.2-0.4 s per merge across
    // q161/q164/q170/q174/q192 in the mid-round window). Frames the
    // caller already persisted are left alone (and not unpersisted
    // behind the caller's back).
    import org.apache.spark.storage.StorageLevel
    def materialize(df: DataFrame): (DataFrame, Boolean) =
      if (deletesOpt.isEmpty || df.storageLevel != StorageLevel.NONE) (df, false)
      else (df.persist(StorageLevel.MEMORY_AND_DISK), true)
    val updates = updatesOpt.map(materialize)
    val deletes = deletesOpt.map(materialize)
    try {
      val updatesP = updates.map(_._1)
      val deletesP = deletes.map(_._1)
      val loc = p.locate(pm, marked(p, updatesP.toSeq, deletesP.toSeq))
      // an empty batch, or a pure delete of keys no file holds
      if (loc.files.isEmpty && (updatesP.isEmpty || loc.updRows == 0L))
        return prev
      // the keys whose existing rows must NOT survive: replaced + deleted
      val dropKeys = (updatesP.toSeq ++ deletesP.toSeq)
        .map(_.select(keyCols.map(col): _*)).reduce(_.unionByName(_))
      val mergedRows =
        if (loc.files.isEmpty) updatesP.get
        else {
          val existing = readFiles(spark, dir, loc.files, pm.schemaOpt,
            pm.colMap, pm.fileSizes, dv = pm.dvs)
            .drop(p.derived: _*)
          // additive/WIDENING evolution: updates may ADD columns (old
          // rows null-fill on read) and shared columns may WIDEN in
          // either direction — both sides align to the per-column
          // widest type, then matched/deleted keys drop
          updatesP match {
            case Some(u) =>
              val (ex, up) = mergeAlign(existing, u)
              ex.join(dropKeys, keyCols, "left_anti").unionByName(up)
            case None =>
              existing.join(dropKeys, keyCols, "left_anti")
          }
        }
      val placed = p.place(mergedRows)
      // a delete can empty its files entirely: commit kept files only
      // — stage refuses zero-file writes. The probe runs only when it
      // can fire: deletes present AND no update row (a merged frame
      // that unions a non-empty update side can never be empty — the
      // locate fold already counted it, so ordinary CDC batches skip
      // the probe's scan; only a layout whose fold could not run
      // (updRows == -1) asks the update side itself).
      val updNonEmpty = loc.updRows > 0L ||
        (loc.updRows < 0L && updatesP.exists(!_.isEmpty))
      val st =
        if (deletesOpt.isDefined && !updNonEmpty &&
            mergedRows.isEmpty)
          Staged(Nil, pm.schemaOpt.map(nullable(_).json).getOrElse(
            nullable(placed.schema).json), Nil)
        // staged rows live in exactly the touched buckets, so more
        // write tasks than buckets is pure scheduling overhead (guide
        // §2: derive partitioning from the data, not a constant)
        else stagePlaced(p, pm, dir, placed, blockSize,
          math.min(numTasks, math.max(1, loc.buckets)))
      val schema = pm.schemaOpt match {
        case Some(ps) if updatesP.isEmpty => nullable(ps).json // deletes never evolve
        case Some(ps) => mergeSchemas(ps, nullable(placed.schema)).json
        case None => st.schemaJson
      }
      val touched = loc.files.toSet
      commitReplacing(spark, dir, pm, prev, pm.files.filterNot(touched), st,
        schema, meta ++ p.epochLines(st.rels))
    } finally (updates ++ deletes).foreach { case (df, owned) =>
      if (owned) df.unpersist(false)
    }
  }

  /** The REPLACE-FILES commit every write that keeps files shares
    * (merge, compaction, appends, vectored deletes, metadata-only
    * commits, SQL MERGE's copy-on-write): claim the next version above
    * `prev` and land kept + staged files with [[carriedLines]] in ONE
    * manifest. */
  private[operators] def commitReplacing(spark: SparkSession, dir: String,
      pm: Manifest, prev: Long, kept: Seq[String], st: Staged,
      schemaJson: String, meta: Seq[String] = Nil,
      replaced: String => Boolean = _ => false): Long = {
    val v = claimAbove(spark, dir, prev)
    commit(spark, dir, v, kept ++ st.rels,
      carriedLines(pm, kept, st, schemaJson, meta, replaced))
    v
  }

  /** A METADATA-ONLY commit that changes one carried declaration:
    * same files, same per-file lines; `line(pm)` supersedes every
    * carried line starting with `family` (a layout's granularity
    * evolution). */
  private[operators] def redeclare(spark: SparkSession, dir: String,
      family: String)(line: Manifest => String): Long = {
    val (prev, pm) = writeHead(spark, dir)
    val schema = pm.schemaOpt.map(nullable(_).json).getOrElse(
      throw new IllegalArgumentException(s"$dir has no recorded schema"))
    commitReplacing(spark, dir, pm, prev, pm.files, Staged(Nil, schema, Nil),
      schema, Seq(line(pm)), _.startsWith(family))
  }

  /** Column RENAME as a METADATA-ONLY commit (format 2.1 — the
    * Iceberg-class evolution axis): the new manifest lists the SAME
    * files; only the logical schema and the physical→logical column
    * map (`#colmap` lines) change. The PHYSICAL name a column was
    * born under never changes and is what every data file stores —
    * later writes stage under physical names, reads pass the
    * physical schema to ONE parquet relation and restore the logical
    * surface with a single projection, stats stay keyed by the
    * physical name (rename-proof), and time travel reads each
    * version under ITS OWN names. Renaming a width-bucketed table's
    * layout key is refused (`#bucketw` binds it by name), as is any
    * name containing `:`/newline (the meta-line encoding). O(manifest)
    * however large the table. */
  def rename(spark: SparkSession, dir: String, oldName: String,
             newName: String): Long = {
    val (prev, pm) = writeHead(spark, dir)
    val ps = pm.schemaOpt.getOrElse(throw new IllegalArgumentException(
      s"$dir predates manifest format 2 — rename needs a recorded schema"))
    require(ps.fieldNames.contains(oldName),
      s"rename: no column $oldName in $dir")
    require(!ps.fieldNames.contains(newName),
      s"rename: column $newName already exists in $dir")
    require(newName.nonEmpty && !newName.contains(":") &&
      !newName.contains("\n") && newName != DirCol,
      s"rename: invalid column name '$newName'")
    require(!pm.metaValues("bucketw").exists(_.split(":", 2)(0) == oldName),
      s"rename: $oldName is a width-bucketed table's layout key — " +
        "unsupported (the #bucketw metadata binds it by name)")
    require(!pm.props.get("zlayout").exists(
        _.split(":", 3)(2).split(",").contains(oldName)),
      s"rename: $oldName is a z-order table's layout dimension — " +
        "unsupported (the zlayout property binds it by name)")
    require(!pm.metaValues("bucketh").exists(_.split(":", 2)(0) == oldName),
      s"rename: $oldName is a hash-bucketed table's key column — " +
        "unsupported (the #bucketh metadata binds it by name)")
    require(!pm.props.contains(s"zmap.$oldName"),
      s"rename: $oldName is a quantile-mapped z-order dimension — " +
        "unsupported (the zmap property binds it by name)")
    val phys = pm.toPhysical.getOrElse(oldName, oldName)
    val newMap = (pm.colMap - phys) ++
      (if (phys == newName) Map.empty[String, String]
       else Map(phys -> newName)) // rename back to birth name drops the entry
    val schema = nullable(StructType(ps.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))).json
    commitReplacing(spark, dir, pm, prev, pm.files, Staged(Nil, schema, Nil),
      schema, newMap.toSeq.sorted.map { case (p, l) => s"colmap:$p:$l" },
      _.startsWith("colmap:"))
  }

  /** Validate a SEQUENCE of renames against the table's current state
    * WITHOUT committing anything — the all-or-nothing half of ALTER
    * TABLE: the catalog runs this before its property commit so a
    * rename that would be refused (missing column, taken name,
    * layout-bound key) refuses the WHOLE statement up front instead
    * of landing the property changes and then failing. Simulates the
    * sequence over the evolving field set; the layout bindings are
    * invariant across it (a bound name can never be renamed, so it
    * can never be freed or shadowed mid-sequence). */
  def renamePrecheck(spark: SparkSession, dir: String,
                     renames: Seq[(String, String)]): Unit = {
    if (renames.isEmpty) return
    val prev = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val pm = manifest(spark, dir, prev)
    val ps = pm.schemaOpt.getOrElse(throw new IllegalArgumentException(
      s"$dir predates manifest format 2 — rename needs a recorded schema"))
    var names = ps.fieldNames.toSet
    renames.foreach { case (oldName, newName) =>
      require(names.contains(oldName),
        s"rename: no column $oldName in $dir")
      require(!names.contains(newName),
        s"rename: column $newName already exists in $dir")
      require(newName.nonEmpty && !newName.contains(":") &&
        !newName.contains("\n") && newName != DirCol,
        s"rename: invalid column name '$newName'")
      require(!pm.metaValues("bucketw").exists(_.split(":", 2)(0) == oldName),
        s"rename: $oldName is a width-bucketed table's layout key — " +
          "unsupported (the #bucketw metadata binds it by name)")
      require(!pm.props.get("zlayout").exists(
          _.split(":", 3)(2).split(",").contains(oldName)),
        s"rename: $oldName is a z-order table's layout dimension — " +
          "unsupported (the zlayout property binds it by name)")
      require(!pm.metaValues("bucketh").exists(_.split(":", 2)(0) == oldName),
        s"rename: $oldName is a hash-bucketed table's key column — " +
          "unsupported (the #bucketh metadata binds it by name)")
      require(!pm.props.contains(s"zmap.$oldName"),
        s"rename: $oldName is a quantile-mapped z-order dimension — " +
          "unsupported (the zmap property binds it by name)")
      names = names - oldName + newName
    }
  }

  /** Idempotent batch upsert — the foreachBatch EXACTLY-ONCE sink
    * discipline: the applied batch id rides in the committed
    * manifest itself (same atomic write as the file list), and a
    * REPLAY of an already-applied id is a no-op returning the
    * current version. This is what makes a Structured Streaming
    * restart safe: the engine re-delivers the last unacknowledged
    * batch, the ledger absorbs it, the table state stays applied-
    * once. Batch ids are monotone per query, so "already applied" =
    * "id ≤ [[lastAppliedBatch]]" — checked off the newest
    * batch-bearing manifest only, never a full ledger scan.
    * Single-writer discipline (one streaming query per table)
    * is the stated contract — foreachBatch already serializes
    * batches within a query; a second concurrent writer should go
    * through its own table and a downstream merge. */
  def mergeBatch(batchId: Long, updates: DataFrame, dir: String,
                 bucketCol: String, keyCols: Seq[String],
                 sortCols: Seq[String],
                 blockSize: Long = 128L * 1024 * 1024,
                 numTasks: Int = 32,
                 deletes: Option[DataFrame] = None): Long =
    exactlyOnce(updates.sparkSession, dir, batchId)(stamp =>
      publishImpl(updates, dir, bucketCol, sortCols, blockSize, numTasks,
        stamp)) { (_, stamp) =>
      mergeImpl(Some(updates), deletes, dir, flat(bucketCol, sortCols),
        keyCols, blockSize, numTasks, stamp)
    }

  /** The exactly-once LEDGER every batch sink shares ([[mergeBatch]],
    * [[ZOrderTable.mergeBatch]]): batch ids are MONOTONE per streaming
    * query (Spark's checkpoint guarantees it), so any id <= the
    * highest applied one is a re-delivery — absorbed (the current
    * version, nothing changes) without reading a single manifest
    * beyond the newest batch-bearing one (the Delta-sink txn-version
    * semantics; an all-manifests ledger scan per batch would go
    * quadratic over a long stream's life). Otherwise the BOOTSTRAP
    * batch creates the table and later batches `apply` on top of the
    * head version — both stamped with the `batch:<id>` line they are
    * handed, so a crash-replay of any batch, the bootstrap included,
    * is absorbed instead of re-applied. */
  private[operators] def exactlyOnce(spark: SparkSession, dir: String,
      batchId: Long)(bootstrap: Seq[String] => Long)(
      apply: (Long, Seq[String]) => Long): Long = {
    val stamp = Seq(s"batch:$batchId")
    if (lastAppliedBatch(spark, dir).exists(batchId <= _))
      latest(spark, dir).get
    else latest(spark, dir) match {
      case None => bootstrap(stamp)
      case Some(v) => apply(v, stamp)
    }
  }

  /** [[mergeBatch]] curried for `writeStream.foreachBatch`. */
  def foreachBatchMerge(dir: String, bucketCol: String,
                        keyCols: Seq[String], sortCols: Seq[String]):
      (DataFrame, Long) => Unit =
    (batchDf, batchId) => {
      mergeBatch(batchId, batchDf, dir, bucketCol, keyCols, sortCols)
      ()
    }

  /** Row-level change feed between two versions (CDC EMIT — the
    * complement of [[merge]]'s CDC apply): `_change` = 'insert' for
    * rows present in `vNew` but not `vOld`, 'delete' for the
    * reverse, EXACT MULTISET semantics (a replaced row appears as
    * one delete + one insert; duplicates count). Reads ONLY the
    * step's [[changeSet]] — file sharing makes the
    * carried-over bulk cancel at the metadata level, so a diff
    * across a merge reads just the rewritten buckets, and a diff
    * across a COMPACTION is provably empty (same rows, different
    * files — the q166 gate pins it). Cost ∝ churn between the
    * versions, never table size. */
  def diff(spark: SparkSession, dir: String, vOld: Long, vNew: Long): DataFrame = {
    val mOld = committedManifest(spark, dir, vOld)
    val mNew = committedManifest(spark, dir, vNew)
    val ChangeSet(onlyNew, onlyOld, grown, dvOld, dvNew, sizes) =
      changeSet(mOld, mNew)
    // both sides read under vNew's schema AND column names: columns
    // the old files predate null-fill natively (additive evolution);
    // renamed columns resolve by PHYSICAL name on both sides
    lazy val empty = readFiles(spark, dir, mNew.files, mNew.schemaOpt,
      mNew.colMap, sizes).limit(0)
    val newSide =
      if (onlyNew.isEmpty) empty
      else readFiles(spark, dir, onlyNew, mNew.schemaOpt, mNew.colMap,
        sizes, dv = dvNew)
    // the grown files' rows dead at vNew and live at vOld
    val grownRows =
      if (grown.isEmpty) empty
      else {
        val grownSet = grown.toSet
        def deadAt(m: Map[String, Dv.Vec]) =
          Dv.deadTest(spark, dir, m.filter { case (r, _) => grownSet(r) })
        val (deadNew, deadOld) = (deadAt(dvNew), deadAt(dvOld))
        val (f, p) = (col(FileCol), col(PosCol))
        readFiles(spark, dir, grown, mNew.schemaOpt, mNew.colMap, sizes,
            withPos = true)
          .filter(deadNew(f, p) && !deadOld(f, p))
          .drop(FileCol, PosCol)
      }
    val oldSide =
      (if (onlyOld.isEmpty) empty
       else readFiles(spark, dir, onlyOld, mNew.schemaOpt, mNew.colMap,
         sizes, dv = dvOld))
        .unionByName(grownRows)
    // align column order/types (a no-op under a recorded schema;
    // legacy manifests' partition discovery may disagree per token)
    val oldAligned = oldSide.select(newSide.columns.map(c =>
      (if (oldSide.columns.contains(c)) col(c)
       else lit(null)).cast(newSide.schema(c).dataType).as(c)): _*)
    newSide.exceptAll(oldAligned).withColumn("_change", lit("insert"))
      .unionByName(oldAligned.exceptAll(newSide).withColumn("_change", lit("delete")))
  }

  /** What changed between two manifests, file by file: the files only
    * the new one lists (`inserted`), the files only the old one lists
    * (`removed`), and the shared files whose deletion vector GREW — a
    * vectored delete changes no files, so only the vectors show its
    * deletes — each side with its own vectors, and the recorded file
    * sizes of both. Sorted by path. The rows a change reads: an
    * inserted file's rows live at the new version, a removed file's
    * rows live at the old one, a grown file's rows dead at the new
    * version and live at the old one. */
  private[graft] final case class ChangeSet(inserted: Seq[String],
      removed: Seq[String], grown: Seq[String],
      dvOld: Map[String, Dv.Vec], dvNew: Map[String, Dv.Vec],
      sizes: Map[String, Long])

  /** [[ChangeSet]] of the step `mOld` → `mNew`, from the manifests
    * alone (the vectors' line-carried counts; no sidecar is read). */
  private[graft] def changeSet(mOld: Manifest, mNew: Manifest): ChangeSet = {
    val (fo, fn) = (mOld.files.toSet, mNew.files.toSet)
    val (dvOld, dvNew) = (mOld.dvs, mNew.dvs)
    def dead(m: Map[String, Dv.Vec], rel: String) = m.get(rel).fold(0L)(_.count)
    ChangeSet((fn -- fo).toSeq.sorted, (fo -- fn).toSeq.sorted,
      (fo & fn).toSeq.filter(r => dead(dvNew, r) > dead(dvOld, r)).sorted,
      dvOld, dvNew, mOld.fileSizes ++ mNew.fileSizes)
  }

  /** Per-file key stats for version `v` — read from the MANIFEST
    * (zero data-file opens: the stats were footer-walked once at
    * write time over just that commit's new files). Files the
    * manifest carries no stats for — legacy manifests, or a
    * different key column than the one recorded — fall back to the
    * footer walk, which stays the verification path (the spec pins
    * manifest == footers). Pruning never calls this: the range and
    * box scans read the manifest's stats through [[statsPruner]]. */
  def versionStats(spark: SparkSession, dir: String, v: Long,
                   keyCol: String): Seq[Layout.RowGroupStat] =
    versionStats(spark, dir, committedManifest(spark, dir, v), keyCol)

  /** [[versionStats]] off an in-hand manifest. */
  private[operators] def versionStats(spark: SparkSession, dir: String,
      m: Manifest, keyCol: String): Seq[Layout.RowGroupStat] = {
    // stats are keyed by the PHYSICAL column name (rename-proof) —
    // translate the caller's logical name through this version's map
    val phys = m.toPhysical.getOrElse(keyCol, keyCol)
    val recorded = m.stats(phys)
    val (have, missing) = m.files.partition(recorded.contains)
    val fromManifest = have.map { rel =>
      val (rows, mn, mx) = recorded(rel)
      Layout.RowGroupStat(s"$dir/$rel", fileBucket(rel), rows, mn, mx)
    }
    val walked =
      if (missing.isEmpty) Seq.empty
      else Layout.rowGroupStatsFiles(spark, missing.map(r => s"$dir/$r"), phys)
    fromManifest ++ walked
  }

  /** Typed per-file stats for ANY declared stats column of version
    * `v` — read from the MANIFEST (zero data-file opens; the
    * `#stat2` lines were typed-footer-walked once at write time over
    * each commit's new files). Files without a recorded entry fall
    * back to the typed footer walk, the verification path (the spec
    * pins manifest == footers per recorded column); pruning never
    * calls this. `column` is the version's LOGICAL name; stats are
    * stored physical-keyed (rename-proof). */
  def versionStatsFor(spark: SparkSession, dir: String, v: Long,
                      column: String): Seq[Layout.TypedFileStat] = {
    val m = committedManifest(spark, dir, v)
    val phys = m.toPhysical.getOrElse(column, column)
    val recorded = m.stats2(phys)
    val (have, missing) = m.files.partition(recorded.contains)
    val fromManifest = have.map { rel =>
      val (rows, kind, mn, mx) = recorded(rel)
      Layout.TypedFileStat(s"$dir/$rel", phys, rows, kind, mn, mx)
    }
    val walked =
      if (missing.isEmpty) Seq.empty
      else Layout.typedStatsFiles(spark, missing.map(r => s"$dir/$r"), Seq(phys))
    fromManifest ++ walked
  }

  /** Stats-pruned range scan of a version, `[lo, hi)` on one column
    * — time travel composed with min/max skipping, planned entirely
    * from the manifest (the file list and the per-file stats: no
    * directory walk, no footer opens, orphaned files never consulted,
    * skipped files never touched). Works on the layout key and on
    * every declared stats column. Typing: integer-family columns take
    * Long bounds, double/float take Doubles, strings take Strings, and
    * TIMESTAMP columns take MICROS-since-epoch Longs (the residual
    * compares `unix_micros`). Files skip by the one file-skip rule
    * ([[statTests]]): a bound of another family, a file without a
    * recorded stat, or a DECIMAL column (see [[statColumns]]) makes
    * no claim and the file is read. The residual
    * filter is exact, so the result always equals the full-scan
    * filter. */
  def prunedScanAtBy(spark: SparkSession, dir: String, v: Long,
                     column: String, lo: Any, hi: Any): DataFrame =
    prunedScanAtBox(spark, dir, v, Seq((column, lo, hi)))

  /** The manifest-relative files a `[lo, hi)` predicate on `column`
    * must read at version `v` — the pruning DECISION alone (what
    * [[prunedScanAtBy]] scans), exposed so layout gates/benchmarks
    * can count skipped files without touching data. */
  def prunedFilesBy(spark: SparkSession, dir: String, v: Long,
                    column: String, lo: Any, hi: Any): Seq[String] =
    prunedFilesBox(spark, dir, v, Seq((column, lo, hi)))

  /** [[prunedFilesBy]] for a CONJUNCTION of range predicates — the
    * multi-dimensional pruning decision a Z-ORDER layout exists for.
    * Each `(column, lo, hi)` becomes the conjuncts `column >= lo` and
    * `column < hi` on the physical name, judged by the one file-skip
    * rule the planning-time pruner uses ([[statsPruner]]): a file
    * survives only if EVERY conjunct's test keeps it, so per-file
    * survival sets INTERSECT across dimensions (under a z-prefix
    * bucketing each dimension's stats box is the bucket cell's
    * projection — an axis-aligned box reads just the cells it
    * intersects). A bound of another family than the stat's, or a
    * file without a recorded stat, makes no claim: the file is kept,
    * and no footer is opened. Manifest only. */
  def prunedFilesBox(spark: SparkSession, dir: String, v: Long,
                     preds: Seq[(String, Any, Any)]): Seq[String] = {
    require(preds.nonEmpty, "box pruning needs at least one predicate")
    val m = committedManifest(spark, dir, v)
    statsPruner(m)(rangeConjuncts(m, preds)) match {
      case Some(kept) => m.files.filter(kept)
      case None => m.files
    }
  }

  /** A box's `[lo, hi)` predicates as the conjuncts the file-skip
    * rule reads: `column >= lo` and `column < hi` on each column's
    * PHYSICAL name. */
  private def rangeConjuncts(m: Manifest, preds: Seq[(String, Any, Any)])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    preds.flatMap { case (c, lo, hi) =>
      val a = AttributeReference(m.toPhysical.getOrElse(c, c),
        org.apache.spark.sql.types.NullType)()
      Seq(GreaterThanOrEqual(a, Literal(lo)), LessThan(a, Literal(hi)))
    }
  }

  /** [[prunedFilesBox]] refined by the manifest's per-ROW-GROUP
    * `#stat3` lines: a file-level survivor drops when NO recorded
    * row group passes every conjunct's test at once — the same
    * file-skip rule ([[statTests]]) applied per row group, finer than
    * the file-level decision, which judges each predicate against the
    * whole file's min/max. Manifest only, zero footer opens. A file
    * keeps when it has no `#stat3` claim (single-row-group files
    * never record one) or its predicate columns disagree on the
    * block list (start/len are the block identity). Safe because a
    * recorded set is the file's COMPLETE block list (the
    * all-or-nothing rule of [[Layout.typedStatsWithBlocks]]). */
  private[graft] def prunedFilesBoxRg(spark: SparkSession, dir: String,
      v: Long, preds: Seq[(String, Any, Any)]): Seq[String] = {
    val m = committedManifest(spark, dir, v)
    val tests = statTests(rangeConjuncts(m, preds), statColumns(m))
    val byCol = tests.map(_._1).distinct.map(c => c -> m.stats3(c)).toMap
    prunedFilesBox(spark, dir, v, preds).filter { rel =>
      val claims = tests.flatMap { case (c, t) =>
        byCol(c).get(rel).map(gs => (t, gs))
      }
      val blockSets = claims.map(_._2.map(g => (g.start, g.len))).distinct
      claims.isEmpty || blockSets.size != 1 ||
        blockSets.head.indices.exists { i =>
          claims.forall { case (t, gs) => t(gs(i).kind, gs(i).min, gs(i).max) }
        }
    }
  }

  /** Stats-pruned scan of a version under a CONJUNCTION of range
    * predicates, `[lo, hi)` each — [[prunedScanAtBy]] generalized to
    * the multi-dimensional box query: planned entirely from the
    * manifest by the one file-skip rule, reads the files
    * [[prunedFilesBoxRg]] keeps (whole, vectorized — Spark's
    * task-side footer pruning skips the failing row groups inside
    * them), residual = the exact AND. A bound the rule cannot judge
    * keeps the file, so the scan always equals the full-scan filter. */
  def prunedScanAtBox(spark: SparkSession, dir: String, v: Long,
                      preds: Seq[(String, Any, Any)]): DataFrame = {
    val m = committedManifest(spark, dir, v)
    val surviving = prunedFilesBoxRg(spark, dir, v, preds)
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val residual = preds.map { case (column, lo, hi) =>
      val isTs = m.schemaOpt.exists { s =>
        s.fieldNames.contains(column) &&
          (s(column).dataType == TimestampType ||
            s(column).dataType == TimestampNTZType)
      }
      // NTZ casts through TimestampType under the pinned-UTC session —
      // identical micros to the parquet INT64 the stats recorded
      val c = if (isTs) unix_micros(col(column).cast("timestamp"))
              else col(column)
      c >= lit(lo) && c < lit(hi)
    }.reduce(_ && _)
    if (surviving.isEmpty)
      readFiles(spark, dir, m.files, m.schemaOpt, m.colMap, m.fileSizes,
        dv = m.dvs)
        .filter(residual).limit(0)
    else readFiles(spark, dir, surviving, m.schemaOpt, m.colMap,
      m.fileSizes, dv = m.dvs)
      .filter(residual)
  }

  /** TOTAL byte size of version `v`, planned from the manifest's
    * per-file `#fsize` lines (recorded free at staging from the
    * listing). Files without a recorded size — legacy manifests —
    * are stat'ed once from the filesystem, the conservative fallback
    * every stats reader here uses. */
  def sizeAt(spark: SparkSession, dir: String, v: Long): Long = {
    val m = committedManifest(spark, dir, v)
    val recorded = m.fileSizes
    val f = fs(spark, dir)
    m.files.map { rel =>
      recorded.getOrElse(rel,
        f.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel")).getLen)
    }.sum
  }

  /** TOTAL row count of version `v` from the MANIFEST alone: per-file
    * row counts ride in the `#stat` / `#stat2` lines. None when any
    * file lacks one (no stats columns were declared) — callers fall
    * back to counting, or treat the table as stats-less. */
  def rowCountAt(spark: SparkSession, dir: String, v: Long): Option[Long] = {
    val m = committedManifest(spark, dir, v)
    val rows: Map[String, Long] =
      (m.metaValues("stat").flatMap { s =>
        s.split(":", 5) match {
          case Array(_, r, _, _, rel) => Some(rel -> r.toLong)
          case _ => None
        }
      } ++ m.metaValues("stat2").flatMap { s =>
        s.split(":", 6) match {
          case Array(_, _, r, _, _, rel) => Some(rel -> r.toLong)
          case _ => None
        }
      }).toMap
    val per = m.files.map(rows.get)
    // merge-on-read deletes: per-file row counts are PRE-DV (the stat
    // lines describe the physical file); the version's logical count
    // subtracts the recorded dead positions
    val dead = m.dvs.valuesIterator.map(_.count).sum // sidecar counts ride in the line
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum - dead)
  }

  /** Approximate DISTINCT COUNT of `column` at version `v`, planned
    * from the MANIFEST alone: the per-file KMV sketches ([[Ndv]],
    * `#ndv` lines, computed once per immutable file at its staging)
    * merge EXACTLY to the union's sketch, so the estimate needs zero
    * data reads however many commits built the version. Returns
    * (estimate, exact?) — exact when the merged sketch holds fewer
    * than k hashes. Files without a recorded sketch (legacy, or a
    * column outside the declared `ndvCols` list) are sketched on the
    * fly — the verification path, reads those files once. The use
    * case is JOIN PLANNING: NDV + row counts (the `#stat` lines)
    * decide broadcast vs shuffle and flag low-NDV skew keys before a
    * stage burns on them. */
  def approxDistinctAt(spark: SparkSession, dir: String, v: Long,
                       column: String): (Double, Boolean) =
    Ndv.estimate(ndvSketchAt(spark, dir, v, column))

  /** The version's MERGED KMV sketch for `column` (the union of its
    * files' recorded sketches; files without one — legacy, or the
    * column wasn't declared — are sketched on the fly, the
    * verification path). Feed two tables' sketches to
    * [[Ndv.intersectEstimate]] for join-overlap planning. */
  def ndvSketchAt(spark: SparkSession, dir: String, v: Long,
                  column: String): Array[Long] = {
    val m = committedManifest(spark, dir, v)
    val phys = m.toPhysical.getOrElse(column, column)
    val recorded = m.ndvSketches(phys)
    val (have, missing) = m.files.partition(recorded.contains)
    val extra =
      if (missing.isEmpty) Seq.empty[Array[Long]]
      else Ndv.fileSketches(
        spark.read.parquet(missing.map(r => s"$dir/$r"): _*), phys)
        .values.toSeq
    Ndv.merge(have.map(recorded) ++ extra)
  }

  /** The manifest-relative path of a PER-FILE meta line (any of
    * [[FileFamilies]]) — the path is always the LAST field and never
    * contains ':' (the line grammar), so one extractor covers every
    * family. */
  private[operators] def lineRel(line: String): String =
    line.substring(line.lastIndexOf(':') + 1)

  /** The version's DEAD-row count, manifest-only: inline vector
    * lengths plus the sidecar lines' carried counts — never opens a
    * sidecar (the `graft_history` / planning surface). */
  def deadRowsAt(spark: SparkSession, dir: String, v: Long): Long =
    committedManifest(spark, dir, v).dvs.valuesIterator.map(_.count).sum

  /** The batch-ledger header riding on version `v`, if any — carried
    * headers included (a compact/metadata commit reports the id it
    * carried forward). Inspection surface for `graft_history`. */
  def batchAt(spark: SparkSession, dir: String, v: Long): Option[Long] =
    committedManifest(spark, dir, v).metaValues("batch").headOption
      .map(_.toLong)

  /** The deletion vectors of version `v` — manifest-relative file →
    * sorted dead row positions. Inspection surface for gates/ops
    * (how much merge-on-read debt a table carries; [[compact]] is
    * the reclaimer). */
  def deletionVectorsAt(spark: SparkSession, dir: String,
                        v: Long): Map[String, Array[Long]] =
    committedManifest(spark, dir, v).dvs.map { case (rel, dv) =>
      rel -> Dv.positions(spark.sparkContext.hadoopConfiguration, dir, dv)
    }

  /** Drop every version below `keepFrom` and delete the data files
    * no kept version references. Returns (manifests dropped, data
    * files deleted, data files kept). This is the ONLY operation
    * that deletes data — everything else only adds.
    *
    * `retainMs` is the concurrent-writer guard: a racing writer's
    * staged-but-uncommitted files are unreferenced by ANY manifest,
    * so an unguarded sweep would delete them and the writer's
    * subsequent commit would publish an unreadable version. Files
    * younger than the window are therefore skipped (they count as
    * kept); pass 0 ONLY under exclusive access (no concurrent
    * writers — e.g. single-writer maintenance jobs and tests).
    *
    * Transactions: tombstone manifests (aborted txns) below
    * `keepFrom` are dropped like any other, which unreferences their
    * staged files for the sweep — how an aborted transaction's space
    * is reclaimed. Kept tombstones' files stay protected: an
    * in-flight txn at the top may still commit. */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Long,
             retainMs: Long = DefaultRetainMs): (Long, Long, Long) = {
    require(versions(spark, dir).contains(keepFrom),
      s"keepFrom=$keepFrom is not a committed version of $dir")
    val (drop, keep) = rawVersions(spark, dir).partition(_ < keepFrom)
    val referenced = keep.flatMap(v => manifest(spark, dir, v).files).toSet
    val f = fs(spark, dir)
    // every data file on disk, relative, with its modification time
    val dataRoot = new org.apache.hadoop.fs.Path(dir, "data")
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    val prefix = new org.apache.hadoop.fs.Path(dir).toUri.getPath.stripSuffix("/")
    val cutoff = System.currentTimeMillis() - retainMs
    val all = walk(dataRoot).map { st =>
      val abs = st.getPath.toUri.getPath
      (abs.stripPrefix(prefix).stripPrefix("/"), st.getModificationTime)
    }
    val orphans = all.filter { case (rel, mod) =>
      !referenced(rel) && mod <= cutoff
    }
    orphans.foreach { case (rel, _) =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), false)
    }
    // DELETION-VECTOR sidecars reclaim the same way: a sidecar is
    // referenced while any kept manifest carries its #dvf line; a
    // rewrite/re-grow drops the reference and the file becomes an
    // orphan (same retainMs guard — an in-flight writer's
    // just-written sidecar is protected)
    val dvRoot = new org.apache.hadoop.fs.Path(dir, Dv.SidecarDir)
    val referencedDv = keep.flatMap(v =>
      manifest(spark, dir, v).dvs.valuesIterator.collect {
        case Dv.Sidecar(_, sc) => sc
      }).toSet
    val dvOrphans =
      if (!f.exists(dvRoot)) Seq.empty
      else f.listStatus(dvRoot).toSeq.filter(!_.isDirectory).flatMap { st =>
        val rel = s"${Dv.SidecarDir}/${st.getPath.getName}"
        if (!referencedDv(rel) && st.getModificationTime <= cutoff) Some(rel)
        else None
      }
    dvOrphans.foreach { rel =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), false)
      Dv.forget(_ == s"$dir/$rel")
    }
    drop.foreach { v =>
      f.delete(manifestPath(dir, v), false)
      // a dropped version's manifest must not survive in the caches —
      // readers should see the same "does not exist" the disk says
      manifestCache.remove(cacheKey(dir, v))
      committedCache.remove(cacheKey(dir, v))
    }
    dirListCache.remove(dir)
    // a checkpoint may still list dropped versions as committed —
    // refresh it in place (cheap here: this process's caches are warm)
    if (f.exists(checkpointPath(dir))) checkpoint(spark, dir)
    (drop.size.toLong, (orphans.size + dvOrphans.size).toLong,
      (all.size - orphans.size).toLong)
  }

  // -----------------------------------------------------------------
  // Multi-table transactions
  // -----------------------------------------------------------------

  /** Begin a MULTI-TABLE transaction — one atomic commit spanning N
    * snapshot tables (the fact+dims publish every warehouse load
    * needs: either every table advances or none does).
    *
    * Protocol — the create-exclusive claim GENERALIZED: each member
    * write stages its data files and claims its table's next version
    * normally, but the manifest carries `#txn:<recordPath>` — such a
    * manifest is PROVISIONAL: readers treat it as committed only
    * once the shared record file says `commit`. [[Txn.commit]] is
    * ONE create-exclusive write of that record — the single atomic
    * point at which every member version becomes visible at once.
    * A crash before it leaves every table at its old version (the
    * provisional manifests are invisible tombstones); there is no
    * state in between, per table or across tables.
    *
    * Arbitration / liveness: the record is first-writer-wins with
    * `commit` or `abort` content. A plain writer that finds an
    * UNDECIDED transactional manifest at its table's top force-
    * aborts it (writes `abort`) before claiming above — so a crashed
    * transaction never write-locks its tables, and a transaction
    * racing a plain writer fails cleanly at [[Txn.commit]] instead
    * of publishing a half-visible state. Tombstoned version numbers
    * are never reused (claims go above them); their staged files are
    * reclaimed once [[vacuum]]'s `keepFrom` passes the tombstone.
    *
    * Scale: zero new I/O classes — the record check is one small-
    * file existence/read per TRANSACTIONAL manifest encountered
    * (plain manifests pay nothing), and commit cost is one file
    * create regardless of member count or data volume.
    *
    * @param recordPath the shared record location (any FS path the
    *   members can all reach, e.g. a `_txns/<id>` sibling). Must be
    *   unused — one record per transaction. */
  def beginTxn(spark: SparkSession, recordPath: String): Txn = {
    require(txnState(spark, recordPath).isEmpty,
      s"transaction record $recordPath already exists — records are one-shot")
    new Txn(spark, recordPath)
  }

  /** A handle for one in-flight multi-table transaction; see
    * [[beginTxn]] for the protocol. NOT thread-safe (one coordinator
    * drives a txn). */
  final class Txn private[Snapshots] (spark: SparkSession, val recordPath: String) {
    private val txnMeta = Seq(s"txn:$recordPath")
    private val claimed = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private var resolved = false

    private def claim(dir: String, v: Long): Long = {
      require(!resolved, "transaction already resolved")
      claimed.put(dir, v)
      v
    }

    /** Members claimed so far: table dir → provisional version. */
    def claims: Seq[(String, Long)] = claimed.toSeq

    /** Stage + provisionally claim a FIRST version (see [[Snapshots.publish]]). */
    def publish(df: DataFrame, dir: String, bucketCol: String,
                sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
                numTasks: Int = 32): Long = {
      require(!claimed.contains(dir), s"transaction already claimed $dir")
      claim(dir, publishImpl(df, dir, bucketCol, sortCols, blockSize,
        numTasks, txnMeta))
    }

    /** Stage + provisionally claim an incremental load (see [[Snapshots.append]]). */
    def append(df: DataFrame, dir: String, bucketCol: String,
               sortCols: Seq[String], blockSize: Long = 128L * 1024 * 1024,
               numTasks: Int = 32): Long = {
      require(!claimed.contains(dir), s"transaction already claimed $dir")
      claim(dir, appendImpl(df, dir, flat(bucketCol, sortCols), blockSize,
        numTasks, txnMeta))
    }

    /** Stage + provisionally claim an upsert (see [[Snapshots.merge]]). */
    def merge(updates: DataFrame, dir: String, bucketCol: String,
              keyCols: Seq[String], sortCols: Seq[String],
              blockSize: Long = 128L * 1024 * 1024,
              numTasks: Int = 32): Long = {
      require(!claimed.contains(dir), s"transaction already claimed $dir")
      claim(dir, Snapshots.merge(updates, dir, bucketCol, keyCols, sortCols,
        blockSize, numTasks, meta = txnMeta))
    }

    /** Stage + provisionally claim a delete (see [[Snapshots.delete]]) —
      * the cross-table erasure shape: delete a key from N tables, all
      * visible at one record write. */
    def delete(keys: DataFrame, dir: String, bucketCol: String,
               keyCols: Seq[String], sortCols: Seq[String],
               blockSize: Long = 128L * 1024 * 1024,
               numTasks: Int = 32): Long = {
      require(!claimed.contains(dir), s"transaction already claimed $dir")
      claim(dir, Snapshots.delete(keys, dir, bucketCol, keyCols, sortCols,
        blockSize, numTasks, meta = txnMeta))
    }

    /** THE atomic point: win the record with `commit` and every
      * member version becomes visible at once. Throws (and no table
      * changes — the manifests stay tombstones) if a concurrent
      * writer force-aborted this transaction first. Idempotent if
      * this transaction already committed. */
    def commit(): Unit = {
      require(claimed.nonEmpty, "transaction has no members to commit")
      resolved = true
      if (!writeTxnRecord(spark, recordPath, commit = true) &&
          !txnState(spark, recordPath).contains(true))
        throw new IllegalStateException(
          s"transaction $recordPath was aborted by a concurrent writer — " +
            "no member table changed (provisional versions stay invisible)")
    }

    /** Explicitly abandon: write `abort` (first-writer-wins; a no-op
      * if something already resolved the record). Throws if the
      * record already says `commit` — a committed txn cannot be
      * taken back. */
    def abort(): Unit = {
      resolved = true
      writeTxnRecord(spark, recordPath, commit = false)
      if (txnState(spark, recordPath).contains(true))
        throw new IllegalStateException(
          s"transaction $recordPath already committed — cannot abort")
    }
  }
}
