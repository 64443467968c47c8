package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

import graft.functions.GeoFunctions._
import graft.geom.{Ops, Pt, Wkt}

/** Dorling circle cartogram (reference pycart/cartogram.py:245).
  *
  * Radius model (cartogram.py:312-341): Queen-contiguity pairs give
  *   k = sum(centroid distance over directed pairs)
  *     / sum(sqrt(Vf/pi) + sqrt(Vn/pi) over directed pairs)
  *   r_i = sqrt(V_i/pi) * k,  widest = max r_i.
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
  * scale past one core). This implementation computes all forces from
  * the previous iteration's positions and applies them simultaneously
  * (Jacobi). Same fixed points, order-independent, embarrassingly
  * parallel; convergence is asserted in DorlingSpec rather than
  * per-step equality with the reference.
  *
  * Scale design: the per-iteration neighbour search is a grid-binned
  * self-join (cell = 2*widest, 3x3 probe), so each iteration is one
  * shuffle of O(n) small rows — no O(n^2) pair matrix. Radii/borders
  * are computed once up front. Deterministic decimal summation keeps
  * k bit-identical at any parallelism. Lineage is cut per iteration
  * with localCheckpoint (the standard Spark iterative-algorithm
  * pattern, cf. GraphX Pregel).
  */
object Dorling {

  /** Compute per-region radii + the scale coefficient k (exposed
    * separately for q23's oracle check).
    * @param precomputedBorders Borders.compute output to reuse; when
    *        absent it is computed here. Callers that also need the
    *        borders (run/runSequential) pass it in so the spatial
    *        self-join — the most expensive stage — runs exactly once.
    * @return (regions: id, value, x, y, perimeter, radius ; k)
    */
  def radii(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
            precomputedBorders: Option[DataFrame] = None): (DataFrame, Double) = {
    val regions = measured(project(df, idCol, valueCol, geomCol))

    val borders = precomputedBorders.getOrElse(Borders.compute(df, idCol, geomCol))

    val f = regions.select(col("id").as("focal_id"), col("x").as("fx"),
      col("y").as("fy"), col("value").as("fv"))
    val n = regions.select(col("id").as("neighbor_id"), col("x").as("nx"),
      col("y").as("ny"), col("value").as("nv"))

    // Exact decimal sums => order-independent, deterministic at any
    // parallelism (SURVEY.md §4).
    val dec = DecimalType(30, 10)
    val Array(row) = borders.join(f, "focal_id").join(n, "neighbor_id")
      .select(
        sqrt((col("nx") - col("fx")) * (col("nx") - col("fx")) +
             (col("ny") - col("fy")) * (col("ny") - col("fy"))).as("dist"),
        (sqrt(col("fv") / math.Pi) + sqrt(col("nv") / math.Pi)).as("rsum"))
      .agg(sum(col("dist").cast(dec)).cast("double").as("d"),
           sum(col("rsum").cast(dec)).cast("double").as("r"))
      .collect()
    val k = row.getDouble(0) / row.getDouble(1)

    (withRadius(regions, k), k)
  }

  /** (id, value as double, geom): the columns every Dorling path reads. */
  private def project(df: DataFrame, idCol: String, valueCol: String, geomCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(valueCol).cast("double").as("value"), col(geomCol).as("geom"))

  private def measured(regions: DataFrame): DataFrame = regions
    .withColumn("x", st_centroid_x(col("geom")))
    .withColumn("y", st_centroid_y(col("geom")))
    .withColumn("perimeter", st_perimeter(col("geom")))

  private def withRadius(regions: DataFrame, k: Double): DataFrame =
    regions.withColumn("radius", sqrt(col("value") / math.Pi) * lit(k)).drop("geom")

  private def circles(pos: DataFrame, quadsegs: Int): DataFrame =
    pos.withColumn("geometry", st_buffer_point(col("x"), col("y"), col("radius"), lit(quadsegs)))
      .select("id", "value", "radius", "x", "y", "geometry")

  /** One Jacobi iteration of the force model over (id, value, x, y,
    * perimeter, radius). Exposed for q24 and the spec. */
  def step(pos: DataFrame, borders: DataFrame, widest: Double,
           ratio: Double, friction: Double): DataFrame = {
    val cs = math.max(2.0 * widest, 1e-12)

    // focal side probes its 3x3 cell neighbourhood; neighbour side
    // sits in its own cell => each (focal, nb) candidate appears once.
    val probes = pos
      .withColumn("dcell", explode(array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
        struct(lit(i.toLong).as("x"), lit(j.toLong).as("y")))): _*)))
      .select(col("id").as("f_id"), col("x").as("fx"), col("y").as("fy"),
        col("radius").as("f_radius"), col("perimeter").as("f_perimeter"),
        struct((floor(col("x") / cs) + col("dcell.x")).as("x"),
               (floor(col("y") / cs) + col("dcell.y")).as("y")).as("cell"))
    val targets = pos.select(col("id").as("n_id"), col("x").as("nx"), col("y").as("ny"),
      col("radius").as("n_radius"),
      struct(floor(col("x") / cs).as("x"), floor(col("y") / cs).as("y")).as("cell"))

    val cand = probes.join(targets, Seq("cell"))
      .filter(col("f_id") =!= col("n_id"))
      .withColumn("dist", sqrt((col("nx") - col("fx")) * (col("nx") - col("fx")) +
                               (col("ny") - col("fy")) * (col("ny") - col("fy"))))
      // reference cartogram.py:357: 0 < dist < widest + r_focal
      .filter(col("dist") > 0 && col("dist") < lit(widest) + col("f_radius"))

    val bw = borders.select(col("focal_id").as("f_id"), col("neighbor_id").as("n_id"),
      col("weight"))

    val contribs = cand.join(bw, Seq("f_id", "n_id"), "left")
      .withColumn("overlap", col("n_radius") + col("f_radius") - col("dist"))
      .withColumn("dx", col("nx") - col("fx"))
      .withColumn("dy", col("ny") - col("fy"))
      // _attract (cartogram.py:126): border pairs rescale overlap to
      // |overlap| * weight / focal_perimeter; others keep raw overlap
      .withColumn("a_overlap",
        when(col("weight").isNotNull, abs(col("overlap")) * col("weight") / col("f_perimeter"))
          .otherwise(col("overlap")))
      .groupBy(col("f_id"))
      .agg(
        // exact decimal sums: per-focal force totals are identical at
        // any parallelism (and SQL-oracle-checkable — q24)
        sum(when(col("overlap") > 0, -col("overlap") * col("dx") / col("dist")).otherwise(0.0)
          .cast(DecimalType(30, 12))).cast("double").as("xrepel"),
        sum(when(col("overlap") > 0, -col("overlap") * col("dy") / col("dist")).otherwise(0.0)
          .cast(DecimalType(30, 12))).cast("double").as("yrepel"),
        sum(when(col("overlap") <= 0, col("a_overlap") * col("dx") / col("dist")).otherwise(0.0)
          .cast(DecimalType(30, 12))).cast("double").as("xattract"),
        sum(when(col("overlap") <= 0, col("a_overlap") * col("dy") / col("dist")).otherwise(0.0)
          .cast(DecimalType(30, 12))).cast("double").as("yattract"),
        min(col("dist")).as("min_dist"))

    val joined = pos.join(contribs, pos("id") === contribs("f_id"), "left")
      .withColumn("xrepel", coalesce(col("xrepel"), lit(0.0)))
      .withColumn("yrepel", coalesce(col("yrepel"), lit(0.0)))
      .withColumn("xattract", coalesce(col("xattract"), lit(0.0)))
      .withColumn("yattract", coalesce(col("yattract"), lit(0.0)))
      // cartogram.py:364: closest = min(widest, nearest neighbour)
      .withColumn("closest", least(lit(widest), coalesce(col("min_dist"), lit(widest))))

    // cartogram.py:377-397 vector blend, verbatim formulas
    val attractDist = sqrt(col("xattract") * col("xattract") + col("yattract") * col("yattract"))
    val repelDist0 = sqrt(col("xrepel") * col("xrepel") + col("yrepel") * col("yrepel"))
    val scaled = joined
      .withColumn("attract_dist", attractDist)
      .withColumn("repel_dist0", repelDist0)
      .withColumn("xrepel_s", when(col("repel_dist0") > col("closest"),
        col("closest") * col("xrepel") / (col("repel_dist0") + 1.0)).otherwise(col("xrepel")))
      .withColumn("yrepel_s", when(col("repel_dist0") > col("closest"),
        col("closest") * col("yrepel") / (col("repel_dist0") + 1.0)).otherwise(col("yrepel")))
      .withColumn("repel_dist", least(col("repel_dist0"), col("closest")))
      .withColumn("xattract_s", when(col("repel_dist") <= 0 && col("attract_dist") > col("closest"),
        col("closest") * col("xattract") / (col("attract_dist") + 1.0)).otherwise(col("xattract")))
      .withColumn("yattract_s", when(col("repel_dist") <= 0 && col("attract_dist") > col("closest"),
        col("closest") * col("yattract") / (col("attract_dist") + 1.0)).otherwise(col("yattract")))
      .withColumn("xtotal", when(col("repel_dist") > 0,
          (lit(1.0) - ratio) * col("xrepel_s") +
          lit(ratio) * (col("repel_dist") * col("xattract") / (col("attract_dist") + 1.0)))
        .otherwise(col("xattract_s")))
      .withColumn("ytotal", when(col("repel_dist") > 0,
          (lit(1.0) - ratio) * col("yrepel_s") +
          lit(ratio) * (col("repel_dist") * col("yattract") / (col("attract_dist") + 1.0)))
        .otherwise(col("yattract_s")))

    scaled.select(
      pos("id"), col("value"), col("perimeter"), col("radius"),
      (pos("x") + lit(friction) * col("xtotal")).as("x"),
      (pos("y") + lit(friction) * col("ytotal")).as("y"))
      .select("id", "value", "x", "y", "perimeter", "radius")
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
    * the result is one local DataFrame: the size check and the collect
    * are its only Spark jobs (2 on a 64-region map, where the
    * distributed path at 1 iteration runs 20). Larger inputs (or
    * smallN = 0) take the distributed path: the leveled-grid borders
    * ([[Borders.grid]]), radii's decimal aggregate, and one
    * checkpointed [[step]] per iteration. The default crossover is
    * measured: the driver loop is O(n^2) per iteration and at 10k
    * regions (tools/ScaleStress) it already loses to the grid-binned
    * distributed step (10.7 s vs 7.9 s for 3 iterations); at hundreds
    * of regions it wins by the full per-iteration job-launch cost.
    * Inputs the driver path cannot reproduce exactly — a null id,
    * value or geometry, a repeated id, or no Queen pair at all — take
    * the distributed path whatever their size.
    *
    * PARITY ACROSS PATHS: k uses radii's scale-10 HALF_UP decimal sums;
    * both paths accumulate per-focal force sums in scale-12 decimal
    * (the distributed step via its decimal aggregate, the driver loop
    * by rounding each double contribution to the same scale and adding
    * exactly), and every other operation is the identical per-row IEEE
    * expression — so run() output is BIT-EQUAL across the smallN
    * dispatch at any iteration count, in settling and chaotic regimes
    * alike, with the same schema (CartogramParitySpec; the
    * never-settling all-contact fixture is the case where any
    * accumulation-order difference would compound).
    *
    * @param df (idCol, valueCol, geomCol WKT)
    * @return id, value, radius, x, y, geometry (circle WKT)
    */
  def run(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
          iterations: Int = 100, ratio: Double = 0.4, friction: Double = 0.5,
          quadsegs: Int = 16, smallN: Int = Borders.SmallN): DataFrame = {
    val input = project(df, idCol, valueCol, geomCol)
    Borders.collectIfSmall(input, smallN)
      .flatMap(rows => local(rows, input.schema("id").dataType))
      .map { m =>
        val (x, y) = jacobi(m, iterations, ratio, friction)
        val out = m.ids.indices.map(i => Row(m.ids(i), m.value(i), m.radius(i), x(i), y(i),
          Wkt.write(Ops.bufferPoint(Pt(x(i), y(i)), m.radius(i), quadsegs))))
        // the distributed path's schema, nullability included, from its
        // own plan (analysis only: no job runs)
        val pos0 = withRadius(measured(input), 1.0)
          .select("id", "value", "x", "y", "perimeter", "radius")
        val pos = if (iterations <= 0) pos0 else step(pos0,
          pos0.select(col("id").as("focal_id"), col("id").as("neighbor_id"), lit(0.0).as("weight")),
          1.0, ratio, friction)
        df.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), circles(pos, quadsegs).schema)
      }
      .getOrElse(distributed(df, idCol, valueCol, geomCol, iterations, ratio, friction, quadsegs))
  }

  private def distributed(df: DataFrame, idCol: String, valueCol: String, geomCol: String,
                          iterations: Int, ratio: Double, friction: Double,
                          quadsegs: Int): DataFrame = {
    // Materialize borders ONCE — its lineage holds the geometry
    // spatial join, which would otherwise re-execute both inside
    // radii's k-aggregate and inside every iteration's step join.
    val borders = Borders.grid(df, idCol, geomCol).localCheckpoint()
    val (regions0, _) = radii(df, idCol, valueCol, geomCol, Some(borders))
    var pos = regions0.select("id", "value", "x", "y", "perimeter", "radius")
      .localCheckpoint()
    val widest = pos.agg(max(col("radius"))).collect()(0).getDouble(0)
    // One checkpoint per iteration: a step embeds joins+aggregations,
    // so chaining steps compounds shuffles into one oversized plan
    // (measured 3x slower at cadence 4) — materialize each round.
    // checkpointFlat, not bare localCheckpoint: inherited stats
    // estimates compound geometrically across iterations and stall
    // the planner past ~20 rounds (see PlanUtil.checkpointFlat).
    var i = 0
    while (i < iterations) {
      pos = graft.PlanUtil.checkpointFlat(step(pos, borders, widest, ratio, friction))
      i += 1
    }
    circles(pos, quadsegs)
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
    val keys = order.map(keyOf).toArray
    if ((1 until keys.length).exists(i => ord.equiv(keys(i - 1), keys(i)))) return None
    val sorted = order.map(rows)
    val geoms = sorted.map(r => Wkt.read(r.getString(2))).toArray
    val pairs = Borders.queenPairs(keys, geoms, idType)
    if (pairs.isEmpty) return None
    val value = sorted.map(_.getDouble(1)).toArray
    val x = geoms.map(Ops.centroid(_).x)
    val y = geoms.map(Ops.centroid(_).y)
    // radii's aggregate: scale-10 decimal sums over directed pairs
    var d = java.math.BigDecimal.ZERO
    var r = java.math.BigDecimal.ZERO
    for ((i, j, _) <- pairs; (f, n) <- Seq((i, j), (j, i))) {
      d = d.add(decimal(math.sqrt((x(n) - x(f)) * (x(n) - x(f)) +
                                  (y(n) - y(f)) * (y(n) - y(f))), 10))
      r = r.add(decimal(math.sqrt(value(f) / math.Pi) + math.sqrt(value(n) / math.Pi), 10))
    }
    val k = d.doubleValue / r.doubleValue
    Some(LocalRegions(sorted.map(_.get(0)).toArray, value, x, y, geoms.map(Ops.perimeter),
      value.map(v => math.sqrt(v / math.Pi) * k), k,
      pairs.flatMap { case (i, j, w) => Seq((i, j) -> w, (j, i) -> w) }.toMap))
  }

  /** Double -> decimal exactly as Catalyst's cast to DecimalType(_, scale)
    * does it: shortest-string BigDecimal (valueOf), then HALF_UP. */
  private def decimal(d: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP)

  /** Driver-side Jacobi iterations: the same force model as [[step]]
    * (forces from the previous iteration's snapshot, applied
    * simultaneously), with per-focal force sums accumulated EXACTLY
    * like the distributed step's decimal aggregate: each double
    * contribution rounds to scale-12 decimal, the decimals add
    * exactly (order cannot matter), and the total converts back to
    * double. Every remaining operation is the identical per-row IEEE
    * expression, so the two paths are BIT-EQUAL at any iteration
    * count — including chaotic all-contact regimes where any
    * accumulation-order difference would compound.
    * @return final (x, y) */
  private def jacobi(m: LocalRegions, iterations: Int, ratio: Double,
                     friction: Double): (Array[Double], Array[Double]) = {
    val radius = m.radius
    val per = m.perimeter
    var x = m.x
    var y = m.y
    val n = x.length
    val widest = radius.max

    for (_ <- 0 until iterations) {
      val nx = new Array[Double](n)
      val ny = new Array[Double](n)
      for (idx <- 0 until n) {
        var xrepelD = java.math.BigDecimal.ZERO
        var yrepelD = java.math.BigDecimal.ZERO
        var xattractD = java.math.BigDecimal.ZERO
        var yattractD = java.math.BigDecimal.ZERO
        var closest = widest
        for (j <- 0 until n if j != idx) {
          val dist = math.sqrt((x(j) - x(idx)) * (x(j) - x(idx)) +
                               (y(j) - y(idx)) * (y(j) - y(idx)))
          if (dist > 0 && dist < widest + radius(idx)) {
            if (dist < closest) closest = dist
            val overlap = radius(j) + radius(idx) - dist
            val dx = x(j) - x(idx); val dy = y(j) - y(idx)
            if (overlap > 0.0) {
              xrepelD = xrepelD.add(decimal(-overlap * dx / dist, 12))
              yrepelD = yrepelD.add(decimal(-overlap * dy / dist, 12))
            } else {
              val ov = m.weights.get((idx, j))
                .map(w => math.abs(overlap) * w / per(idx)).getOrElse(overlap)
              xattractD = xattractD.add(decimal(ov * dx / dist, 12))
              yattractD = yattractD.add(decimal(ov * dy / dist, 12))
            }
          }
        }
        var xrepel = xrepelD.doubleValue
        var yrepel = yrepelD.doubleValue
        val xattract = xattractD.doubleValue
        val yattract = yattractD.doubleValue
        val attractDist = math.sqrt(xattract * xattract + yattract * yattract)
        var repelDist = math.sqrt(xrepel * xrepel + yrepel * yrepel)
        if (repelDist > closest) {
          xrepel = closest * xrepel / (repelDist + 1.0)
          yrepel = closest * yrepel / (repelDist + 1.0)
          repelDist = closest
        }
        val (xt, yt) =
          if (repelDist > 0) (
            (1.0 - ratio) * xrepel + ratio * (repelDist * xattract / (attractDist + 1.0)),
            (1.0 - ratio) * yrepel + ratio * (repelDist * yattract / (attractDist + 1.0)))
          else if (attractDist > closest) (
            closest * xattract / (attractDist + 1.0),
            closest * yattract / (attractDist + 1.0))
          else (xattract, yattract)
        nx(idx) = x(idx) + friction * xt
        ny(idx) = y(idx) + friction * yt
      }
      x = nx; y = ny
    }
    (x, y)
  }
}
