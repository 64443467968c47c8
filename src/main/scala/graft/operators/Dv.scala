package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf
import org.apache.spark.util.SerializableConfiguration

/** DELETION VECTORS — merge-on-read row deletes (the public Delta
  * deletion-vectors / Iceberg position-deletes shape): a file's dead
  * rows are recorded as their within-file ROW POSITIONS (parquet row
  * order, `_metadata.row_index`), delta-varint encoded over the sorted
  * positions. This object owns every decision about them: the storage
  * format, how a scan applies them and how a delete grows them.
  *
  * Positions-not-keys because positions are TYPE-AGNOSTIC (any key
  * shape, any column mix deletes the same way) and O(log n) to test
  * per row at read time. Delta-varint because GDPR-style deletes are
  * scattered-but-clustered: ~1.2 bytes/position for dense runs,
  * ≤10 bytes worst case.
  *
  * Storage: a vector of at most [[InlineMax]] positions rides base64'd
  * in the manifest line `#dv:<b64>:<rel>`; a larger one lives in ONE
  * immutable sidecar file under `dir/dv/` and the manifest carries
  * `#dvf:<count>:<sidecar-rel>:<rel>` (the count keeps row counts
  * manifest-only). A delete that would grow a file's vector past
  * [[MaxInlinePositions]] refuses — a copy-on-write rewrite is cheaper
  * at that churn.
  *
  * Read ([[deadTest]]) and write ([[grow]]) both run per file inside
  * the task: a scan task resolves its own file's vector, a delete task
  * merges and stores its own file's vector, so no input puts
  * (file, position) pairs on the driver.
  */
object Dv {

  /** Per-file budget: a delete growing a vector past this refuses
    * (and [[encode]], the `#dv` line form, refuses past it too). */
  val MaxInlinePositions: Int = 1000000

  /** The inline-vs-sidecar switch: vectors of at most this many
    * positions ride inline in the manifest (≤ ~8 KB encoded). */
  val InlineMax: Int = 4096

  /** Bound on the decoded sidecar positions one process caches
    * (8 MB of longs) — the largest legal vector still fits. */
  val CachePositions: Long = MaxInlinePositions

  /** The directory under a table that holds sidecar files. */
  val SidecarDir = "dv"

  /** One file's vector as its manifest line records it. */
  sealed trait Vec extends Serializable { def count: Long }
  /** `#dv` — the sorted positions themselves. */
  final case class Inline(positions: Array[Long]) extends Vec {
    def count: Long = positions.length.toLong
  }
  /** `#dvf` — `count` positions in the sidecar at `path` (table-relative). */
  final case class Sidecar(count: Long, path: String) extends Vec

  /** The vectors of one manifest, by data-file rel path, from its
    * `dv` and `dvf` meta values (a sidecar line wins over an inline
    * one for the same file). */
  def parse(inline: Seq[String], sidecar: Seq[String]): Map[String, Vec] =
    inline.map(_.split(":", 2)).collect {
      case Array(b64, rel) => rel -> (Inline(decode(b64)): Vec)
    }.toMap ++ sidecar.map(_.split(":", 3)).collect {
      case Array(n, sc, rel) => rel -> Sidecar(n.toLong, sc)
    }

  /** The manifest meta line (without its `#`) recording `v` for `rel`. */
  def line(rel: String, v: Vec): String = v match {
    case Inline(ps) => s"dv:${encode(ps)}:$rel"
    case Sidecar(n, sc) => s"dvf:$n:$sc:$rel"
  }

  /** The sorted dead positions of `v` (a sidecar read goes through
    * the process cache). */
  def positions(conf: => Configuration, dir: String, v: Vec): Array[Long] =
    v match {
      case Inline(ps) => ps
      case Sidecar(_, sc) => cached(s"$dir/$sc")(readSidecar(conf, s"$dir/$sc"))
    }

  /** A row predicate over (file rel path, row position) columns that
    * is TRUE for the rows `vecs` records dead. Each scan task resolves
    * the vectors of the files it reads — a sidecar is read by the task
    * that needs it, never collected on the driver. */
  def deadTest(spark: SparkSession, dir: String,
               vecs: Map[String, Vec]): (Column, Column) => Column = {
    val sc = spark.sparkContext
    val conf =
      if (!vecs.valuesIterator.exists(_.isInstanceOf[Sidecar])) null
      else sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val test = udf(new DeadRows(dir, vecs, conf))
    (file, pos) => test(file, pos)
  }

  /** [[deadTest]]'s per-task body: the vector of the file the task is
    * reading stays resolved until the file changes. */
  private final class DeadRows(dir: String, vecs: Map[String, Vec],
      conf: Broadcast[SerializableConfiguration])
      extends ((String, Long) => Boolean) with Serializable {
    @transient private var last: (String, Long => Boolean) = _
    def apply(file: String, pos: Long): Boolean = {
      var l = last
      if (l == null || l._1 != file) {
        l = (file, deadIn(conf.value.value, dir, vecs.get(file)))
        last = l
      }
      l._2(pos)
    }
  }

  /** One file's test: TRUE for the row positions `v` records dead
    * (none without a vector). The sidecar, if any, is read here, by
    * the task that tests the file. */
  def deadIn(conf: => Configuration, dir: String,
             v: Option[Vec]): Long => Boolean = v match {
    case None => _ => false
    case Some(vec) =>
      val ps = positions(conf, dir, vec)
      pos => java.util.Arrays.binarySearch(ps, pos) >= 0
  }

  /** Grow the vectors of the files `hits` (file rel path, position)
    * names, one task per group of files: the hits shuffle by file,
    * sorted; each file's task checks the [[MaxInlinePositions]]
    * budget BEFORE it writes anything, merges in the old vector and
    * stores the grown one inline or as one new sidecar. Returns one
    * (rel, grown count, stored vector) per touched file; the vector is
    * None for a file over budget (nothing was written for it). A
    * retried task can leave an orphan sidecar (fresh name per
    * attempt) — vacuum sweeps it, like every staged write. */
  def grow(dir: String, old: Map[String, Vec],
           hits: DataFrame): Array[(String, Long, Option[Vec])] = {
    val sc = hits.sparkSession.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val oldBc = sc.broadcast(old)
    val pairs = hits.rdd.map(r => ((r.getString(0), r.getLong(1)), ()))
    pairs.repartitionAndSortWithinPartitions(
        new ByFile(graft.PlanUtil.partitionsFor(pairs)))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(String, Long, Option[Vec])] {
          override def hasNext: Boolean = buf.hasNext
          override def next(): (String, Long, Option[Vec]) = {
            val rel = buf.head._1._1
            val was = oldBc.value.get(rel)
            val wasN = was.fold(0L)(_.count)
            val added = new scala.collection.mutable.ArrayBuilder.ofLong
            var n = 0L
            while (buf.hasNext && buf.head._1._1 == rel) {
              val p = buf.next()._1._2
              n += 1
              if (wasN + n <= MaxInlinePositions) added += p
            }
            if (wasN + n > MaxInlinePositions) (rel, wasN + n, None)
            else {
              val grown = merge(was.fold(Array.emptyLongArray)(
                positions(conf.value.value, dir, _)), added.result())
              (rel, grown.length.toLong, Some(store(conf.value.value, dir, grown)))
            }
          }
        }
      }.collect()
  }

  /** Partitions (file, position) keys by file. */
  private final class ByFile(parts: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = parts
    override def getPartition(key: Any): Int = key match {
      case (f: String, _) => (f.hashCode & Int.MaxValue) % parts
      case _ => 0
    }
  }

  /** `grown` (sorted, distinct) as a vector: inline up to
    * [[InlineMax]], else written to one new sidecar file — before the
    * manifest commit like data files, so a crash leaves an orphan the
    * vacuum sweeps. */
  private def store(conf: Configuration, dir: String, grown: Array[Long]): Vec =
    if (grown.length <= InlineMax) Inline(grown)
    else {
      val rel = s"$SidecarDir/${java.util.UUID.randomUUID().toString.take(8)}.dvs"
      val p = new Path(s"$dir/$rel")
      val out = p.getFileSystem(conf).create(p, false)
      try out.write(encodeBytes(grown)) finally out.close()
      cached(s"$dir/$rel")(grown)
      Sidecar(grown.length.toLong, rel)
    }

  private def readSidecar(conf: Configuration, path: String): Array[Long] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try decodeBytes(in.readAllBytes()) finally in.close()
  }

  /** Decoded sidecars by absolute path, least recently used first;
    * sidecars are immutable, so an entry is never stale. */
  private val cache = new java.util.LinkedHashMap[String, Array[Long]](16, 0.75f, true)
  private var cachedCount = 0L

  private def cached(path: String)(load: => Array[Long]): Array[Long] = {
    val hit = cache.synchronized(cache.get(path))
    if (hit != null) hit
    else {
      val ps = load
      cache.synchronized {
        val was = cache.put(path, ps)
        cachedCount += ps.length - (if (was == null) 0 else was.length)
        val it = cache.values.iterator
        while (cachedCount > CachePositions && it.hasNext) {
          cachedCount -= it.next().length
          it.remove()
        }
      }
      ps
    }
  }

  /** Positions the sidecar cache holds now. */
  private[graft] def cachedPositions: Long = cache.synchronized(cachedCount)

  /** Drop the cached sidecars whose path `hit` selects. */
  private[graft] def forget(hit: String => Boolean): Unit = cache.synchronized {
    cache.entrySet.removeIf { e =>
      val drop = hit(e.getKey)
      if (drop) cachedCount -= e.getValue.length
      drop
    }
  }

  /** `ps` sorted ascending without duplicates: returned as is when it
    * already is (decoded vectors and task-sorted hits), else sorted
    * and deduplicated on a primitive copy. */
  private def normalized(ps: Array[Long]): Array[Long] = {
    var i = 1
    while (i < ps.length && ps(i - 1) < ps(i)) i += 1
    if (i >= ps.length) ps
    else {
      val s = ps.clone()
      java.util.Arrays.sort(s)
      var n = 1
      i = 1
      while (i < s.length) {
        if (s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(s, n)
    }
  }

  /** Delta-varint bytes of non-negative positions — the sidecar file
    * format, and the payload behind [[encode]]. */
  def encodeBytes(positions: Array[Long]): Array[Byte] =
    varints(normalized(positions))

  private def varints(sorted: Array[Long]): Array[Byte] = {
    require(sorted.isEmpty || sorted(0) >= 0,
      s"row positions are non-negative (got ${sorted(0)})")
    val out = new java.io.ByteArrayOutputStream(sorted.length * 2)
    var prev = -1L
    var i = 0
    while (i < sorted.length) {
      var d = sorted(i) - prev // >= 1: strictly increasing
      prev = sorted(i)
      while ((d & ~0x7fL) != 0) {
        out.write(((d & 0x7f) | 0x80).toInt)
        d >>>= 7
      }
      out.write(d.toInt)
      i += 1
    }
    out.toByteArray
  }

  /** Decode delta-varint bytes to the sorted position array. */
  def decodeBytes(bytes: Array[Byte]): Array[Long] = {
    val buf = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    var prev = -1L
    while (i < bytes.length) {
      var shift = 0
      var d = 0L
      var b = 0
      do {
        b = bytes(i) & 0xff
        i += 1
        d |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      prev += d
      buf += prev
    }
    buf.result()
  }

  /** Positions as base64 delta varints (the inline `#dv` line form);
    * refuses past [[MaxInlinePositions]]. Idempotent under
    * re-encode(decode(_)). */
  def encode(positions: Array[Long]): String = {
    val sorted = normalized(positions)
    require(sorted.length <= MaxInlinePositions,
      s"deletion vector of ${sorted.length} positions exceeds " +
        s"the inline budget ($MaxInlinePositions) — use a sidecar")
    java.util.Base64.getEncoder.encodeToString(varints(sorted))
  }

  /** Decode the inline form to the sorted position array. */
  def decode(s: String): Array[Long] =
    decodeBytes(java.util.Base64.getDecoder.decode(s))

  /** Union of two position sets (the grow-only vector union) in one
    * linear merge; sorted, distinct inputs — the usual case — are
    * merged without a sort. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val x = normalized(a)
    val y = normalized(b)
    val out = new Array[Long](x.length + y.length)
    var i = 0
    var j = 0
    var n = 0
    while (i < x.length || j < y.length) {
      val v =
        if (j >= y.length || (i < x.length && x(i) <= y(j))) x(i) else y(j)
      if (i < x.length && x(i) == v) i += 1
      if (j < y.length && y(j) == v) j += 1
      out(n) = v
      n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }
}
