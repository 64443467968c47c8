package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.{Locale, SplittableRandom}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Cartogram
import graft.functions.GeoFunctions.st_measures
import graft.operators.Dorling
import graft.sources.{CsvAttrs, GeoJsonSource}

/** A jittered-lattice map: `cols` x `rows` quadrilateral regions whose
  * interior vertices are moved by up to 0.2 of a cell, so shared
  * vertices carry irregular float coordinates while the adjacency stays
  * that of the grid. Everything the checks need is known in closed form:
  * the Queen pair count, the total shared-border length (the summed
  * length of the interior edges) and the total area (the outer
  * rectangle, whose boundary vertices are not moved). */
final case class Lattice(cols: Int, rows: Int, x0: Double, y0: Double, cell: Double,
                         xs: Array[Array[Double]], ys: Array[Array[Double]]) {
  def regions: Int = cols * rows
  /** directed Queen pairs: edge neighbours plus corner neighbours */
  def queenPairs: Long =
    2L * (rows.toLong * (cols - 1) + cols.toLong * (rows - 1) + 2L * (rows - 1) * (cols - 1))
  def area: Double = cols * rows * cell * cell
  private def edge(i: Int, j: Int, k: Int, l: Int): Double =
    math.sqrt((xs(k)(l) - xs(i)(j)) * (xs(k)(l) - xs(i)(j)) +
      (ys(k)(l) - ys(i)(j)) * (ys(k)(l) - ys(i)(j)))
  /** summed shared-border length over directed pairs */
  def sharedLength: Double = {
    var s = 0.0
    for (j <- 1 until rows; i <- 0 until cols) s += edge(i, j, i + 1, j)
    for (i <- 1 until cols; j <- 0 until rows) s += edge(i, j, i, j + 1)
    2 * s
  }
  def ring(i: Int, j: Int): Seq[(Double, Double)] =
    Seq((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1), (i, j)).map { case (a, b) => (xs(a)(b), ys(a)(b)) }
}

object Lattice {
  def apply(cols: Int, rows: Int, rnd: SplittableRandom): Lattice = {
    val x0 = 100 * rnd.nextDouble(); val y0 = 100 * rnd.nextDouble()
    val cell = 0.05 + 0.1 * rnd.nextDouble()
    val xs = Array.tabulate(cols + 1, rows + 1) { (i, j) =>
      val jitter = if (i > 0 && i < cols && j > 0 && j < rows) (rnd.nextDouble() - 0.5) * 0.4 else 0.0
      x0 + (i + jitter) * cell
    }
    val ys = Array.tabulate(cols + 1, rows + 1) { (i, j) =>
      val jitter = if (i > 0 && i < cols && j > 0 && j < rows) (rnd.nextDouble() - 0.5) * 0.4 else 0.0
      y0 + (j + jitter) * cell
    }
    Lattice(cols, rows, x0, y0, cell, xs, ys)
  }
}

/** pycart's surface through the [[graft.Cartogram]] facade: ingest a
  * GeoJSON map and a CSV attribute table, merge, measure, then the
  * non-contiguous, borders and Dorling cartograms, on two maps. The
  * small map takes Dorling's driver-side Jacobi loop; the large one is
  * run with the distributed per-iteration step. */
final class CartogramWorkload extends Workload {
  val name = "cartogram"

  /** `side` x `side` regions; Dorling at `iterations`, through the
    * distributed per-iteration step when `distributed` */
  private final case class MapSpec(label: String, side: Int, iterations: Int, distributed: Boolean)
  private val maps = Seq(
    MapSpec("map_small", side = 8, iterations = 100, distributed = false),
    MapSpec("map_large", side = 16, iterations = 1, distributed = true))

  /** generated maps by path prefix (`<dir>/<label>`) */
  private val generated = collection.mutable.Map[String, (MapSpec, Lattice)]()

  def generate(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val rnd = new SplittableRandom(seed)
    val md = MessageDigest.getInstance("SHA-256")
    Files.createDirectories(Paths.get(dir))
    val sizes = maps.map { m =>
      val (label, cols, rows) = (m.label, m.side, m.side)
      val lat = Lattice(cols, rows, rnd)
      val geo = new StringBuilder("{\"type\":\"FeatureCollection\",\"features\":[\n")
      val csv = new StringBuilder("name,population\n")
      for (j <- 0 until rows; i <- 0 until cols) {
        val id = f"R$i%03d_$j%03d"
        if (i > 0 || j > 0) geo ++= ",\n"
        geo ++= s"""{"type":"Feature","properties":{"NAME":"$id"},"geometry":{"type":"Polygon","coordinates":[["""
        geo ++= lat.ring(i, j).map { case (x, y) => s"[$x,$y]" }.mkString(",")
        geo ++= "]]}}"
        csv ++= String.format(Locale.ROOT, "%s,\"%,d\"\n", id, Long.box(1000L + rnd.nextLong(5000000L)))
      }
      geo ++= "\n]}\n"
      val g = geo.toString.getBytes(UTF_8); val c = csv.toString.getBytes(UTF_8)
      md.update(g); md.update(c)
      Files.write(Paths.get(s"$dir/$label.geojson"), g)
      Files.write(Paths.get(s"$dir/$label.csv"), c)
      generated(s"$dir/$label") = (m, lat)
      label -> Map("regions" -> lat.regions, "iterations" -> m.iterations,
        "dorling_path" -> (if (m.distributed) "distributed" else "driver"))
    }.toMap
    Inputs(dir, md.digest().map("%02x".format(_)).mkString, sizes)
  }

  private def mapsOf(in: Inputs): Seq[(String, MapSpec, Lattice)] =
    maps.map { m => val base = s"${in.dir}/${m.label}"; (base, m, generated(base)._2) }

  /** The map prepared for the Cartogram facade: ingest plus attribute merge. */
  private def ingest(ctx: Ctx, base: String) = {
    val spark = ctx.spark
    val gdf = ctx.op("sources.geojson") {
      GeoJsonSource.readFeatureCollection(spark, s"$base.geojson")
        .select(col("properties")("NAME").as("name"), col("geometry"))
        .localCheckpoint()
    }
    ctx.op("sources.attrs") {
      val attrs = CsvAttrs.read(spark, s"$base.csv")
        .select(col("name"), CsvAttrs.cleanLong(col("population")).as("population"))
      CsvAttrs.mergeAttrs(gdf, "name", attrs, "name").localCheckpoint()
    }
  }

  def pass(ctx: Ctx, in: Inputs): Unit = mapsOf(in).foreach { case (base, spec, lat) =>
    val n = lat.regions
    val joined = ingest(ctx, base)
    val Array(m) = ctx.op("geom.measures") {
      joined.select(st_measures(col("geometry")).as("m"))
        .agg(count(lit(1)), sum(col("m.area"))).collect()
    }
    ctx.check("geom.region_count", m.getLong(0) == n, s"${m.getLong(0)} regions, expected $n")
    ctx.check("geom.total_area", math.abs(m.getDouble(1) - lat.area) <= 1e-9 * lat.area,
      s"area ${m.getDouble(1)}, expected ${lat.area}")

    val cart = Cartogram(joined, valueField = "population", idField = "name")
    val scales = ctx.op("NonContiguous.run") {
      cart.nonContiguous(1.0).select(col("scale")).collect().map(_.getDouble(0))
    }
    ctx.check("NonContiguous.anchor_scale", scales.length == n &&
      math.abs(scales.max - 1.0) <= 1e-12 && scales.forall(s => s > 0 && s <= 1.0 + 1e-12),
      s"${scales.length} scales, max ${if (scales.isEmpty) "-" else scales.max}")

    val Array(b) = ctx.op("Borders.compute") {
      cart.borders().agg(count(lit(1)), sum(col("weight"))).collect()
    }
    val (pairs, weight) = (b.getLong(0), b.getDouble(1))
    if (ctx.traced) ctx.sample("Borders.pairs", pairs.toDouble)
    ctx.check("Borders.pair_count", pairs == lat.queenPairs, s"$pairs pairs, expected ${lat.queenPairs}")
    ctx.check("Borders.shared_length", math.abs(weight - lat.sharedLength) <= 1e-9 * lat.sharedLength,
      s"shared length $weight, expected ${lat.sharedLength}")

    val circles = ctx.op(if (spec.distributed) "Dorling.large" else "Dorling.small") {
      dorling(cart, spec.iterations, spec.distributed)
    }
    ctx.check("Dorling.circles", circles.length == n && circles.map(_._1).distinct.length == n &&
      circles.forall { case (_, r, x, y) => r > 0 && Seq(r, x, y).forall(_.isFinite) },
      s"${circles.length} circles for $n regions")
  }

  /** Circles as (id, radius, x, y). The large map runs the distributed
    * per-iteration step whatever its size (`smallN = 0`). */
  private def dorling(cart: Cartogram, iterations: Int,
                      distributed: Boolean): Array[(String, Double, Double, Double)] = {
    val df =
      if (distributed) Dorling.run(cart.gdf, cart.idField, cart.valueField, cart.geometryField,
        iterations = iterations, smallN = 0)
      else cart.dorling(iterations = iterations)
    df.select(col("id").cast("string"), col("radius"), col("x"), col("y")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  /** Split the distributed Dorling's cost: the same call at 0 iterations
    * is borders + radii alone. */
  override def extras(ctx: Ctx, in: Inputs): Unit = mapsOf(in).filter(_._2.distributed).foreach {
    case (base, spec, _) =>
      val cart = Cartogram(ingest(ctx, base), valueField = "population", idField = "name")
      val t0 = System.nanoTime()
      ctx.op("Dorling.large_setup")(dorling(cart, 0, distributed = true))
      val t1 = System.nanoTime()
      ctx.op("Dorling.large_full")(dorling(cart, spec.iterations, distributed = true))
      val t2 = System.nanoTime()
      ctx.sample("Dorling.large_setup_s", (t1 - t0) / 1e9)
      ctx.sample("Dorling.large_iter_ms", math.max(0.0, (t2 - t1) - (t1 - t0)) / 1e6 / spec.iterations)
  }
}
