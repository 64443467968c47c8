package graft.operators

import java.math.{BigDecimal => Dec}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.PlanUtil.{grouped, partitionsFor}
import graft.functions.GeoFunctions._
import graft.geom.{Ops, Pt, Wkt}

/** Dorling circle cartogram (reference pycart/cartogram.py:245).
  *
  * Radius model (cartogram.py:312-341): Queen-contiguity pairs give
  *   k = sum(centroid distance over directed pairs)
  *     / sum(sqrt(Vf/pi) + sqrt(Vn/pi) over directed pairs)
  *   r_i = sqrt(V_i/pi) * k,  widest = max r_i.
  * Without a Queen pair (islands only) k is undefined, and every entry
  * refuses the map with an IllegalArgumentException.
  *
  * Force model per iteration (cartogram.py:352-402): every region
  * looks at regions within `widest + r_focal`; overlapping circles
  * repel (cartogram.py:35 `_repel`), non-overlapping ones attract,
  * scaled by shared-border-length / focal-perimeter when the pair was
  * originally contiguous (cartogram.py:80 `_attract`); the combined
  * vector is damped by `friction` and blended by `ratio`.
  *
  * DELIBERATE DEVIATION: the reference applies updates region-by-region
  * inside one iteration (Gauss-Seidel — inherently sequential, cannot
  * scale past one core). [[run]] computes all forces from the previous
  * iteration's positions and applies them simultaneously (Jacobi). Same
  * fixed points, order-independent, embarrassingly parallel.
  *
  * Design: one force kernel ([[Forces]]) serves both [[run]] paths.
  * The driver loop ([[jacobi]]) runs it per region over all others;
  * the distributed step runs it per grid cell (cell = 2*widest, 3x3
  * probe): one shuffle of O(n) small rows and one checkpoint per
  * iteration, no O(n^2) pair matrix, and no generated code that
  * depends on k, widest, ratio, friction or the map's cell size, so a
  * warm call compiles nothing. k, widest and the border weights take
  * one job up front, after the border grid's size-class job.
  * Exact decimal sums keep k and the per-focal forces bit-identical
  * at any parallelism.
  */
object Dorling {

  /** Compute per-region radii + the scale coefficient k (exposed
    * separately for q23's oracle check).
    * @param precomputedBorders Borders.compute output to reuse; when
    *        absent it is computed here (q24 passes the borders it
    *        also steps with).
    * @return (regions: id, value, x, y, perimeter, radius ; k)
    */
  def radii(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
            precomputedBorders: Option[DataFrame] = None): (DataFrame, Double) = {
    val regions = measured(project(df, idCol, valueCol, geomCol))
    val borders = precomputedBorders.getOrElse(Borders.compute(df, idCol, geomCol))
    val k = attach(unscaled(regions), borders).map(_._2).fold(Scale.Zero)(_ + _).k
    (regions.withColumn("radius", sqrt(col("value") / math.Pi) * lit(k)).drop("geom"), k)
  }

  /** (id, value as double, geom): the columns every Dorling path reads. */
  private def project(df: DataFrame, idCol: String, valueCol: String, geomCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(valueCol).cast("double").as("value"), col(geomCol).as("geom"))

  /** x, y and perimeter added; null for a null geometry. */
  private def measured(regions: DataFrame): DataFrame =
    Seq[(String, Column => Column)]("x" -> st_centroid_x, "y" -> st_centroid_y, "perimeter" -> st_perimeter)
      .foldLeft(regions) { case (df, (name, f)) => df.withColumn(name, when(col("geom").isNotNull, f(col("geom")))) }

  /** The step's columns before k is known. */
  private def unscaled(regions: DataFrame): DataFrame =
    regions.withColumn("radius", lit(null).cast(DoubleType))

  /** The step's columns, in order, and the indices the kernel reads. */
  private val Layout = Seq("id", "value", "x", "y", "perimeter", "radius")
  private val V = 1; private val X = 2; private val Y = 3; private val P = 4; private val R = 5

  /** One Jacobi iteration of the force model over (id, value, x, y,
    * perimeter, radius). Rows that share an id pool their forces and
    * each moves by the pool. Exposed for q24 and the spec. */
  def step(pos: DataFrame, borders: DataFrame, widest: Double,
           ratio: Double, friction: Double): DataFrame = {
    val in = pos.select(Layout.map(col): _*)
    val out = iterate(attach(in, borders).map(_._1), widest, ratio, friction, pool = true)
    pos.sparkSession.createDataFrame(out.map(_.row), StructType(in.schema.map(f =>
      if (f.name == "x" || f.name == "y") f.copy(nullable = true) else f)))
  }

  /** Reference-exact sequential Dorling (Gauss-Seidel: each region
    * moves immediately, later regions in the SAME iteration see the
    * move — reference cartogram.py:352-402 verbatim, including the
    * attract-overlap rescale quirk for border pairs). Driver-side on
    * collected rows: the parity/debug path for small input, NOT the
    * scale path (that's [[run]]).
    * @return id, value, radius, x, y (final circle centers)
    */
  def runSequential(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
                    iterations: Int = 100, ratio: Double = 0.4,
                    friction: Double = 0.5): Seq[(String, Double, Double, Double, Double)] = {
    val bordersDf = Borders.compute(df, idCol, geomCol).localCheckpoint()
    val (regionsDf, _) = radii(df, idCol, valueCol, geomCol, Some(bordersDf))
    val borders = bordersDf
      .collect().map(r => (r.get(0).toString, r.get(1).toString) -> r.getDouble(2)).toMap
    val rows = regionsDf.orderBy(col("id")).collect()
    val ids = rows.map(_.get(0).toString)
    val value = rows.map(_.getAs[Double]("value"))
    val per = rows.map(_.getAs[Double]("perimeter"))
    val radius = rows.map(_.getAs[Double]("radius"))
    val x = rows.map(_.getAs[Double]("x")).clone()
    val y = rows.map(_.getAs[Double]("y")).clone()
    val n = ids.length
    val widest = radius.max

    for (_ <- 0 until iterations; idx <- 0 until n) {
      var xrepel = 0.0; var yrepel = 0.0; var xattract = 0.0; var yattract = 0.0
      var closest = widest
      // neighbours: 0 < dist < widest + r_focal (cartogram.py:357)
      val nbs = (0 until n).filter { j =>
        if (j == idx) false else {
          val d = math.sqrt((x(j) - x(idx)) * (x(j) - x(idx)) + (y(j) - y(idx)) * (y(j) - y(idx)))
          d > 0 && d < widest + radius(idx)
        }
      }
      nbs.foreach { j =>
        val dist = math.sqrt((x(j) - x(idx)) * (x(j) - x(idx)) + (y(j) - y(idx)) * (y(j) - y(idx)))
        if (dist < closest) closest = dist
        val overlap = radius(j) + radius(idx) - dist
        val dx = x(j) - x(idx); val dy = y(j) - y(idx)
        if (overlap > 0.0) {                       // _repel (cartogram.py:35)
          xrepel -= overlap * dx / dist
          yrepel -= overlap * dy / dist
        } else {                                   // _attract (cartogram.py:80)
          val ov = borders.get((ids(idx), ids(j)))
            .map(w => math.abs(overlap) * w / per(idx)).getOrElse(overlap)
          xattract += ov * dx / dist
          yattract += ov * dy / dist
        }
      }
      val attractDist = math.sqrt(xattract * xattract + yattract * yattract)
      var repelDist = math.sqrt(xrepel * xrepel + yrepel * yrepel)
      if (repelDist > closest) {                   // cartogram.py:381
        xrepel = closest * xrepel / (repelDist + 1.0)
        yrepel = closest * yrepel / (repelDist + 1.0)
        repelDist = closest
      }
      val (xt, yt) =
        if (repelDist > 0) (
          (1.0 - ratio) * xrepel + ratio * (repelDist * xattract / (attractDist + 1.0)),
          (1.0 - ratio) * yrepel + ratio * (repelDist * yattract / (attractDist + 1.0)))
        else {
          if (attractDist > closest) (
            closest * xattract / (attractDist + 1.0),
            closest * yattract / (attractDist + 1.0))
          else (xattract, yattract)
        }
      x(idx) += friction * xt                      // cartogram.py:397-400
      y(idx) += friction * yt
    }
    (0 until n).map(i => (ids(i), value(i), radius(i), x(i), y(i)))
  }

  /** Full Dorling run.
    *
    * Region tables are broadcast-scale by nature (a cartogram has
    * thousands of regions, not billions), so when the region count is
    * at most `smallN` (default [[Borders.SmallN]]) the WHOLE call runs
    * on one collect of (id, value, geometry): Queen pairs
    * ([[Borders.queenPairs]]), centroids and perimeters, k, radii,
    * widest and the Jacobi loop ([[jacobi]]) all run on the driver and
    * the result is one local DataFrame: the collect, which is also the
    * size check, is its only Spark work (at most 2 jobs on a 64-region
    * map, where the distributed path at 1 iteration runs 4). Larger
    * inputs (or smallN = 0) take the distributed path: one job for the
    * border grid's size classes ([[Borders.grid]]), one for its cells,
    * k, widest and the border weights, and one per iteration. The
    * default crossover is measured: the
    * driver loop is O(n^2) per iteration and at 10k regions
    * (tools/ScaleStress geo, 4 vCPUs) it loses to the distributed step
    * (20.2 s vs 16.2 s for 3 iterations); at hundreds of regions it
    * wins by the per-iteration job-launch cost. Inputs the driver path
    * declines take the distributed path whatever their size: a null
    * value keeps a null radius and circle and its region at its
    * centroid; a null geometry keeps its radius, has no neighbours and
    * keeps a null centre and circle; the rows of a repeated id pool
    * their forces and each moves by the pool; a null id has no
    * neighbours; a map without a Queen pair is refused.
    *
    * PARITY ACROSS PATHS: both paths take k from the same scale-10
    * decimal sums and every force from [[Forces]], so run() output is
    * BIT-EQUAL across the smallN dispatch at any iteration count, in
    * settling and chaotic regimes alike, with the same schema
    * (CartogramParitySpec; its never-settling all-contact fixture is
    * where any accumulation-order difference would compound).
    *
    * @param df (idCol, valueCol, geomCol WKT)
    * @return id, value, radius, x, y, geometry (circle WKT)
    */
  def run(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
          iterations: Int = 100, ratio: Double = 0.4, friction: Double = 0.5,
          quadsegs: Int = 16, smallN: Int = Borders.SmallN): DataFrame = {
    val input = project(df, idCol, valueCol, geomCol)
    graft.PlanUtil.collectIfSmall(input, smallN)
      .flatMap(rows => local(rows, input.schema("id").dataType))
      .map { m =>
        val (x, y) = jacobi(m, iterations, ratio, friction)
        val out = m.ids.indices.map(i => circle(m.ids(i), m.value(i), m.radius(i), x(i), y(i), quadsegs))
        df.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
          circleSchema(measured(input)))
      }
      .getOrElse(distributed(df, idCol, valueCol, geomCol, iterations, ratio, friction, quadsegs))
  }

  private def distributed(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
                          iterations: Int, ratio: Double, friction: Double,
                          quadsegs: Int): DataFrame = {
    val regions = measured(project(df, idCol, valueCol, geomCol))
    // one job: k, widest and the repeated ids; it materializes `attached`
    val attached = checkpointed(attach(unscaled(regions), Borders.grid(df, idCol, geomCol)))
    val scale = attached.map(_._2).fold(Scale.Zero)(_ + _)
    val k = scale.k
    // = max r_i: IEEE products with one k >= 0 keep their factors' order
    val widest = scale.rootMax * k
    var pos = attached.map { case (r, _) => r.copy(row = Row(r.row(0), r.row(V), r.row(X),
      r.row(Y), r.row(P), if (r.row.isNullAt(V)) null else root(r.row.getDouble(V)) * k)) }
    for (_ <- 0 until iterations) {
      pos = checkpointed(iterate(pos, widest, ratio, friction, pool = scale.dups > 0))
      pos.count()
    }
    df.sparkSession.createDataFrame(pos.map(r =>
      circle(r.row(0), r.row(V), r.row(R), r.row(X), r.row(Y), quadsegs)), circleSchema(regions))
  }

  /** `rdd` marked for a local checkpoint, its blocks kept serialized:
    * deserialized blocks make Spark estimate their size by walking the
    * cached objects, which costs more than computing them. */
  private def checkpointed[T](rdd: RDD[T]): RDD[T] =
    rdd.persist(StorageLevel.MEMORY_AND_DISK_SER).localCheckpoint()

  /** A [[run]] output row; no circle where the radius or centre is null.
    * Every NaN is the canonical one, as the distributed path's records
    * hold it once Java serialization has written them. */
  private def circle(id: Any, value: Any, radius: Any, x: Any, y: Any, quadsegs: Int): Row =
    Row.fromSeq(Seq(id, value, radius, x, y).map { case d: Double if d.isNaN => Double.NaN; case v => v } :+
      ((radius, x, y) match {
        case (r: Double, cx: Double, cy: Double) => Wkt.write(Ops.bufferPoint(Pt(cx, cy), r, quadsegs))
        case _ => null
      }))

  /** [[run]]'s schema on both paths, from [[measured]] regions. */
  private def circleSchema(regions: DataFrame): StructType =
    StructType(Seq(regions.schema("id"), regions.schema("value"), StructField("radius", DoubleType),
      regions.schema("x"), regions.schema("y"), StructField("geometry", StringType)))

  /** k's sums over directed Queen pairs (D: centroid distances, R:
    * sqrt(Vf/pi) + sqrt(Vn/pi)), each term rounded HALF_UP to scale 10
    * and added exactly, as Catalyst's decimal sum does (null before the
    * first term); and, for the distributed prologue, the region rows,
    * the largest sqrt(V/pi) and the rows whose id repeats. */
  private final case class Scale(d: Dec, r: Dec, regions: Long, rootMax: Double, dups: Long) {
    def +(o: Scale): Scale = Scale(plus(d, o.d), plus(r, o.r), regions + o.regions,
      math.max(rootMax, o.rootMax), dups + o.dups)
    def k: Double = {
      if (d == null || r == null) throw new IllegalArgumentException("Dorling: k = D/R is " +
        s"undefined without a Queen-contiguous pair of regions with values; these $regions regions have none")
      d.doubleValue / r.doubleValue
    }
  }

  private object Scale {
    val Zero: Scale = Scale(null, null, 0, Double.NegativeInfinity, 0)
    /** one directed pair's terms; a null input, read as NaN, adds none */
    def pair(fx: Double, fy: Double, fv: Double, nx: Double, ny: Double, nv: Double): Scale =
      Scale(term(distance(fx, fy, nx, ny), 10), term(root(fv) + root(nv), 10), 0, Double.NegativeInfinity, 0)
  }

  private def plus(a: Dec, b: Dec): Dec = if (a == null) b else if (b == null) a else a.add(b)

  /** Double -> decimal exactly as Catalyst's cast to DecimalType(_, scale)
    * does it: shortest-string BigDecimal (valueOf), then HALF_UP; null
    * (no term) for a non-finite value. */
  private def term(d: Double, scale: Int): Dec =
    if (java.lang.Double.isFinite(d)) Dec.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP)
    else null

  private def distance(fx: Double, fy: Double, nx: Double, ny: Double): Double =
    math.sqrt((nx - fx) * (nx - fx) + (ny - fy) * (ny - fy))

  private def root(v: Double): Double = math.sqrt(v / math.Pi)

  /** A double column, NaN for null. */
  private def num(row: Row, i: Int): Double = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)

  /** A row in the step's columns between distributed iterations, its id
    * as a hash key (a null key meets nothing), and one (neighbour key,
    * weight) per Queen border row of its id. */
  private final case class Region(row: Row, key: Any, weights: Array[(Any, Double)])

  /** A region as the focals in its 3x3 cells see it. */
  private final case class Candidate(key: Any, x: Double, y: Double, radius: Double)

  private def keyOf(id: Any): Any = id match { case b: Array[Byte] => b.toSeq; case v => v }

  /** Each row of `pos` (the step's columns) as a [[Region]] with its
    * share of [[Scale]]. Shuffles: regions by id, border rows by
    * neighbour (to meet the neighbour's rows), then by focal. Join
    * semantics as in SQL: a null id meets no border row; a border row
    * counts once per row of its focal id and, in k, once per row of
    * its neighbour id. Every shuffle here and in [[iterate]] has one
    * partition per core, or the input's count when larger: these RDD
    * shuffles get no adaptive coalescing, so Spark SQL's shuffle
    * setting (200 by default) would launch as many tasks per pass. */
  private def attach(pos: DataFrame, borders: DataFrame): RDD[(Region, Scale)] = {
    val rows = pos.select(Layout.map(col): _*).rdd
    val parts = partitionsFor(rows)
    val byId = grouped(rows.map(r => keyOf(r.get(0)) -> Row.fromSeq(r.toSeq)), parts)
    val edges = grouped(borders.select("focal_id", "neighbor_id", "weight").rdd.flatMap { b =>
      val (f, n) = (keyOf(b.get(0)), keyOf(b.get(1)))
      if (f == null || n == null) None else Some(n -> (f, b.getDouble(2)))
    }, parts)
    val byFocal = grouped(byId.zipPartitions(edges) { (ids, es) =>
      val rowsOf = ids.toMap
      es.flatMap { case (n, fws) => fws.map { case (f, w) => f -> (n, w, rowsOf.getOrElse(n, Nil)) } }
    }, parts)
    byId.zipPartitions(byFocal) { (ids, fs) =>
      val nbsOf = fs.toMap
      ids.flatMap { case (key, rows) =>
        val nbs = nbsOf.getOrElse(key, Nil)
        val weights = nbs.map { case (n, w, _) => (n, w) }.toArray
        val dup = if (key != null && rows.size > 1) 1 else 0
        rows.map { f =>
          val own = Scale(null, null, 1, if (f.isNullAt(V)) Double.NegativeInfinity else root(f.getDouble(V)), dup)
          (Region(f, key, weights), (for ((_, _, nRows) <- nbs; n <- nRows)
            yield Scale.pair(num(f, X), num(f, Y), num(f, V), num(n, X), num(n, Y), num(n, V))).foldLeft(own)(_ + _))
        }
      }
    }
  }

  /** One Jacobi iteration over `pos`: one shuffle by grid cell (cell =
    * 2 * widest, at least the search radius widest + r_focal, so a
    * focal's candidates all sit in its 3x3 cells). Each region goes to
    * its own cell as a focal, and to all 9 as a [[Candidate]].
    * With `pool`, rows that share an id pool their forces (a second
    * shuffle, by id). */
  private def iterate(pos: RDD[Region], widest: Double, ratio: Double, friction: Double,
                      pool: Boolean): RDD[Region] = {
    val cs = math.max(2.0 * widest, 1e-12)
    val forces = grouped(pos.flatMap { r =>
      val (x, y) = (num(r.row, X), num(r.row, Y))
      val (cx, cy) = (math.floor(x / cs).toLong, math.floor(y / cs).toLong)
      val seen = Candidate(r.key, x, y, num(r.row, R))
      for (i <- -1 to 1; j <- -1 to 1) yield (cx + i, cy + j) -> (if (i == 0 && j == 0) r else null, seen)
    }, pos.partitions.length).flatMap { case (_, members) =>
      members.collect { case (f, _) if f != null =>
        val acc = new Forces(widest)
        if (f.key != null) for ((_, n) <- members if n.key != null && n.key != f.key)
          acc.add(num(f.row, X), num(f.row, Y), num(f.row, R), num(f.row, P), n.x, n.y, n.radius)(
            f.weights.collect { case (k, w) if k == n.key => w })
        f -> acc
      }
    }
    val pooled = if (!pool) forces else grouped(forces.map(p => p._1.key -> p), pos.partitions.length)
      .flatMap { case (_, rs) =>
        val sum = rs.map(_._2).reduce(_ merge _)
        rs.map(_._1 -> sum)
      }
    pooled.map { case (r, f) =>
      val (x, y) = f.move(num(r.row, X), num(r.row, Y), ratio, friction)
      r.copy(row = Row(r.row(0), r.row(V), if (r.row.isNullAt(X)) null else x,
        if (r.row.isNullAt(Y)) null else y, r.row(P), r.row(R)))
    }
  }

  /** A region table on the driver, rows in id order: what [[radii]]
    * computes (k included) plus the directed Queen weights by row
    * index pair. */
  private[graft] final case class LocalRegions(
      ids: Array[Any], value: Array[Double], x: Array[Double], y: Array[Double],
      perimeter: Array[Double], radius: Array[Double], k: Double,
      weights: Map[(Int, Int), Double])

  /** [[radii]] on collected (id, value, geom) rows, bit-equal to it;
    * None for an input only the distributed path reproduces (see
    * [[run]]). */
  private[graft] def local(rows: Array[Row], idType: DataType): Option[LocalRegions] = {
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) return None
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val keyOf = Borders.catalystKeys(rows.map(_.get(0)), idType)
    val order = rows.indices.sortWith((a, b) => ord.lt(keyOf(a), keyOf(b)))
    val shapes = order.map(i => Borders.shape(keyOf(i), rows(i).getString(2)))
    if ((1 until shapes.length).exists(i => ord.equiv(shapes(i - 1).key, shapes(i).key))) return None
    val sorted = order.map(rows)
    val pairs = Borders.queenPairs(shapes, idType)
    if (pairs.isEmpty) return None
    val geoms = shapes.map(_.geom).toArray
    val value = sorted.map(_.getDouble(1)).toArray
    val x = geoms.map(Ops.centroid(_).x)
    val y = geoms.map(Ops.centroid(_).y)
    val k = pairs.iterator.flatMap { case (i, j, _) => Iterator((i, j), (j, i)) }
      .map { case (f, n) => Scale.pair(x(f), y(f), value(f), x(n), y(n), value(n)) }
      .foldLeft(Scale.Zero)(_ + _).k
    Some(LocalRegions(sorted.map(_.get(0)).toArray, value, x, y, geoms.map(Ops.perimeter),
      value.map(v => root(v) * k), k,
      pairs.flatMap { case (i, j, w) => Seq((i, j) -> w, (j, i) -> w) }.toMap))
  }

  /** The force on one focal region from the previous positions
    * (cartogram.py:352-400); both [[run]] paths run it, so they are
    * bit-equal by construction ([[runSequential]] keeps the reference's
    * own plain-double loop). The four sums
    * are exact: each term rounds HALF_UP to scale 12 and the decimals
    * add, so neither the candidate order nor the split of a repeated
    * id's rows across cells changes a bit. */
  private[operators] final class Forces(widest: Double) extends Serializable {
    private var xrepel, yrepel, xattract, yattract: Dec = Dec.ZERO
    private var closest = widest

    /** Candidate (nx, ny, nr) of focal (fx, fy, fr, fp), ids differing.
      * Each focal -> candidate Queen border weight adds the candidate
      * once; with none it adds once as a non-Queen pair. A NaN (null)
      * radius or perimeter adds no term. */
    def add(fx: Double, fy: Double, fr: Double, fp: Double, nx: Double, ny: Double, nr: Double)(
        weights: => Iterable[Double]): Unit = {
      val dist = distance(fx, fy, nx, ny)
      // reference cartogram.py:357: 0 < dist < widest + r_focal
      if (dist > 0 && dist < widest + fr) {
        // cartogram.py:364: closest = min(widest, nearest neighbour)
        if (dist < closest) closest = dist
        val overlap = nr + fr - dist
        val dx = nx - fx; val dy = ny - fy
        def attract(ov: Double): Unit = {
          xattract = plus(xattract, term(ov * dx / dist, 12))
          yattract = plus(yattract, term(ov * dy / dist, 12))
        }
        val ws = weights
        if (overlap > 0.0) for (_ <- 0 until math.max(ws.size, 1)) {  // _repel (cartogram.py:35)
          xrepel = plus(xrepel, term(-overlap * dx / dist, 12))
          yrepel = plus(yrepel, term(-overlap * dy / dist, 12))
        }
        else if (ws.isEmpty) attract(overlap)      // _attract (cartogram.py:80)
        else ws.foreach(w => attract(math.abs(overlap) * w / fp))
      }
    }

    /** Pools another row's sums of the same id into these. */
    def merge(o: Forces): Forces = {
      xrepel = xrepel.add(o.xrepel); yrepel = yrepel.add(o.yrepel)
      xattract = xattract.add(o.xattract); yattract = yattract.add(o.yattract)
      closest = math.min(closest, o.closest)
      this
    }

    /** (x, y) moved by the blended force (cartogram.py:377-400). */
    def move(x: Double, y: Double, ratio: Double, friction: Double): (Double, Double) = {
      var (xr, yr) = (xrepel.doubleValue, yrepel.doubleValue)
      val (xa, ya) = (xattract.doubleValue, yattract.doubleValue)
      val attractDist = math.sqrt(xa * xa + ya * ya)
      var repelDist = math.sqrt(xr * xr + yr * yr)
      if (repelDist > closest) {
        xr = closest * xr / (repelDist + 1.0)
        yr = closest * yr / (repelDist + 1.0)
        repelDist = closest
      }
      val (xt, yt) =
        if (repelDist > 0) (
          (1.0 - ratio) * xr + ratio * (repelDist * xa / (attractDist + 1.0)),
          (1.0 - ratio) * yr + ratio * (repelDist * ya / (attractDist + 1.0)))
        else if (attractDist > closest) (
          closest * xa / (attractDist + 1.0),
          closest * ya / (attractDist + 1.0))
        else (xa, ya)
      (x + friction * xt, y + friction * yt)
    }
  }

  /** Driver-side Jacobi iterations of [[Forces]] on every region from
    * all others, applied simultaneously.
    * @return final (x, y) */
  private def jacobi(m: LocalRegions, iterations: Int, ratio: Double,
                     friction: Double): (Array[Double], Array[Double]) = {
    val (radius, per, n) = (m.radius, m.perimeter, m.ids.length)
    var (x, y) = (m.x, m.y)
    val widest = radius.max
    for (_ <- 0 until iterations) {
      val (nx, ny) = (new Array[Double](n), new Array[Double](n))
      for (i <- 0 until n) {
        val f = new Forces(widest)
        for (j <- 0 until n if j != i)
          f.add(x(i), y(i), radius(i), per(i), x(j), y(j), radius(j))(m.weights.get((i, j)))
        val (mx, my) = f.move(x(i), y(i), ratio, friction)
        nx(i) = mx; ny(i) = my
      }
      x = nx; y = ny
    }
    (x, y)
  }
}
