package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

import graft.PlanUtil
import graft.geom.{Geom, Ops, Wkt}

/** Queen-contiguity border detection.
  *
  * Reference: pycart/border_util.py:5 `get_borders` — libpysal Queen
  * weights (neighbour = shares an edge OR a vertex), weight = length of
  * the shared boundary (`intersection(...).length`), islands dropped.
  *
  * ONE PAIR RULE ([[queenPair]]), run by both paths below: a region
  * with a null id or a null geometry drops out; a pair is kept as
  * (lo, hi) under the `<` Spark evaluates for the id type (byte order
  * for strings; equal ids never pair); the bboxes intersect,
  * boundaries included; `Ops.touches(lo, hi)` holds; the weight is
  * `Ops.sharedBorderLength(lo, hi)`; both directions are emitted with
  * that one weight. So the two paths' rows, weights and schema are
  * bit-equal.
  *
  * SIZE DISPATCH: a map of at most [[SmallN]] regions is counted
  * (at most SmallN + 1 rows), collected once and paired on the driver
  * ([[queenPairs]]); a larger one takes the distributed grid
  * ([[grid]]). Cartograms are region tables — hundreds to a few
  * thousand rows — and on those every Spark stage is pure overhead,
  * while the driver test is O(n^2) cheap bbox comparisons plus the
  * exact geometry test on bbox-intersecting pairs only. 2000 is below
  * the crossover of `Dorling.run`'s driver-side Jacobi loop (it loses
  * to the distributed step at 10k regions, 20.2 s vs 16.2 s for 3
  * iterations); one constant keeps a whole Dorling call on one side
  * of it.
  *
  * THE GRID partitions by space and runs the pair rule inside each
  * cell. Instead of libpysal's all-pairs matrix (O(n^2), single node),
  * regions are keyed to cells of a MULTI-LEVEL grid by their own size
  * class, and the only shuffle groups them by (level, cell), O(n *
  * levels-per-region) rows. A single-level grid sized to the LARGEST
  * bbox is outlier-hostile: one continent-sized polygon among parcels
  * inflates every cell until the input collapses into a handful of
  * cells and the test degenerates quadratic. Here a region's size
  * class c is ceil(log2(extent)); the base cell is 2^c of the MEDIAN
  * class (robust to outliers); a region lives at level l = max(0, c -
  * base), where the cell is 2^(base + l), so it spans at most 2x2
  * cells at its own level; and it also registers in its cells at
  * every OCCUPIED coarser level. One aggregate, the region count per
  * size class, gives both the base and the occupied levels. A pair is
  * tested exactly at the coarser of its two native levels, in the cell
  * holding the bbox-intersection min corner, so each unordered pair is
  * tested once, and a cell costs (members native to its level) x (all
  * members): outliers only pay against what their bbox overlaps, and
  * the fine grid keeps its selectivity. A region without a finite bbox
  * (an empty geometry) meets no other and gets no cell. Shuffle
  * records are the id, the WKT and the bbox; each cell parses a
  * member's WKT at most once, and only when the member's bbox meets
  * another's. No generated code depends on the map.
  */
object Borders {

  /** Region count up to which a cartogram call runs on one collect
    * on the driver (see the size dispatch above). */
  val SmallN = 2000

  /** @param df   (idCol, geomCol WKT)
    * @return symmetric DataFrame: focal_id, neighbor_id, weight
    *         (shared boundary length; 0.0 for vertex-only contact)
    */
  def compute(df: DataFrame, idCol: String, geomCol: String): DataFrame = {
    val input = df.select(col(idCol).as("id"), col(geomCol).as("geom"))
    PlanUtil.collectIfSmall(input, SmallN) match {
      case None => grid(df, idCol, geomCol)
      case Some(rows) =>
        val idType = input.schema("id").dataType
        val shapes = shapesOf(rows.iterator, idType).toIndexedSeq
        val out = directed(idType, queenPairs(shapes, idType).iterator.map { case (i, j, w) =>
          (shapes(i), shapes(j), w) })
        df.sparkSession.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), schema(input))
    }
  }

  /** Ids as the catalyst values Spark's comparisons read (null stays null). */
  private[operators] def catalystKeys(ids: Array[Any], idType: DataType): Array[Any] =
    ids.map(CatalystTypeConverters.createToCatalystConverter(idType))

  /** A region as the pair rule reads it: its id as a catalyst value
    * ([[catalystKeys]]), its WKT and its closed bbox. Its geometry is
    * never shipped parsed: a shuffled shape parses its WKT on first use. */
  private[operators] final case class Shape(key: Any, wkt: String, minx: Double, miny: Double,
                                            maxx: Double, maxy: Double)(@transient private var parsed: Geom) {
    def geom: Geom = { if (parsed == null) parsed = Wkt.read(wkt); parsed }
    def meets(o: Shape): Boolean = minx <= o.maxx && o.minx <= maxx && miny <= o.maxy && o.miny <= maxy
    def finite: Boolean = Seq(minx, miny, maxx, maxy).forall(java.lang.Double.isFinite)
    /** ceil(log2(extent)) within [-40, 1023]: the cell 2^size covers the bbox */
    def size: Int = math.min(1023, math.max(-40, math.getExponent(math.nextDown(math.max(maxx - minx, maxy - miny))) + 1))
  }

  /** The [[Shape]] of a non-null catalyst id and WKT. */
  private[operators] def shape(key: Any, wkt: String): Shape = {
    val g = Wkt.read(wkt)
    val (minx, miny, maxx, maxy) = Ops.bbox(g)
    Shape(key, wkt, minx, miny, maxx, maxy)(g)
  }

  /** (id, WKT) rows as shapes; a null id or geometry gives none. */
  private def shapesOf(rows: Iterator[Row], idType: DataType): Iterator[Shape] = {
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    rows.flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None else Some(shape(toKey(r.get(0)), r.getString(1))))
  }

  /** The Queen pair rule (see above): Some((lo, hi, weight)) when `a`
    * and `b` are a Queen pair. */
  private[operators] def queenPair(lt: Ordering[Any], a: Shape, b: Shape): Option[(Shape, Shape, Double)] =
    if (!a.meets(b) || lt.equiv(a.key, b.key)) None
    else {
      val (lo, hi) = if (lt.lt(a.key, b.key)) (a, b) else (b, a)
      if (Ops.touches(lo.geom, hi.geom)) Some((lo, hi, Ops.sharedBorderLength(lo.geom, hi.geom))) else None
    }

  /** Every Queen pair among `shapes`, as (lo, hi, weight) index triples. */
  private[operators] def queenPairs(shapes: IndexedSeq[Shape], idType: DataType): IndexedSeq[(Int, Int, Double)] = {
    val lt = TypeUtils.getInterpretedOrdering(idType)
    for (i <- shapes.indices; j <- i + 1 until shapes.length; (lo, _, w) <- queenPair(lt, shapes(i), shapes(j)))
      yield if (lo eq shapes(i)) (i, j, w) else (j, i, w)
  }

  /** Both directions of each pair, ids as the input holds them. */
  private def directed(idType: DataType, pairs: Iterator[(Shape, Shape, Double)]): Iterator[Row] = {
    val id = CatalystTypeConverters.createToScalaConverter(idType)
    pairs.flatMap { case (lo, hi, w) => Iterator(Row(id(lo.key), id(hi.key), w), Row(id(hi.key), id(lo.key), w)) }
  }

  /** Both paths' output schema: the input's id field twice, then the weight. */
  private def schema(input: DataFrame): StructType = StructType(Seq("focal_id", "neighbor_id")
    .map(name => input.schema("id").copy(name = name)) :+ StructField("weight", DoubleType, nullable = false))

  /** The distributed leveled grid: [[compute]] above [[SmallN]]
    * regions, and `Dorling.run`'s distributed path. Same output. */
  private[graft] def grid(df: DataFrame, idCol: String, geomCol: String): DataFrame = {
    val input = df.select(col(idCol).as("id"), col(geomCol).as("geom"))
    val idType = input.schema("id").dataType
    val shapes = input.rdd.mapPartitions(shapesOf(_, idType)).filter(_.finite)
    val sizes = shapes.map(_.size).countByValue().toSeq.sorted
    val atOrBelow = sizes.map(_._2).scanLeft(0L)(_ + _).tail
    val base = sizes.indices.find(i => 2 * atOrBelow(i) >= atOrBelow.last).map(sizes(_)._1).getOrElse(0)
    val levels = sizes.map(s => math.max(0, s._1 - base)).distinct
    def level(s: Shape) = math.max(0, s.size - base)
    def cellSize(l: Int) = math.scalb(1.0, base + l)
    def at(v: Double, cs: Double) = math.floor(v / cs).toLong
    val cells = shapes.flatMap { s =>
      for (l <- levels if l >= level(s); cs = cellSize(l);
           cx <- at(s.minx, cs) to at(s.maxx, cs); cy <- at(s.miny, cs) to at(s.maxy, cs))
        yield (l, cx, cy) -> s
    }
    val pairs = PlanUtil.grouped(cells, PlanUtil.partitionsFor(shapes)).mapPartitions { groups =>
      val lt = TypeUtils.getInterpretedOrdering(idType)
      directed(idType, groups.flatMap { case ((l, cx, cy), members) =>
        val (m, size) = (members.toIndexedSeq, cellSize(l))
        val native = m.map(level(_) == l)
        def anchored(a: Shape, b: Shape) =
          at(math.max(a.minx, b.minx), size) == cx && at(math.max(a.miny, b.miny), size) == cy
        for (i <- m.indices.iterator if native(i); j <- m.indices.iterator
             if (j > i || !native(j)) && anchored(m(i), m(j)); p <- queenPair(lt, m(i), m(j)))
          yield p
      })
    }
    df.sparkSession.createDataFrame(pairs, schema(input))
  }
}
