package graft

import org.apache.spark.sql.functions._
import graft.geom._
import graft.operators.{Borders, Dorling, NonContiguous}
import graft.sources.GeoJsonSource

/** Cartogram operators on the reference's square_test fixture
  * (4 rectangles, populations TL=100 BL=200 TR=400 BR=150 from
  * squares_pop.csv). Expected values are closed-form re-derivations
  * of the reference algorithms (pycart/cartogram.py).
  */
class CartogramSpec extends SparkSuite {

  lazy val squares = {
    val df = GeoJsonSource.readFeatureCollection(
      spark, "data/Test/square_test.geojson")
    val pops = Map("TL" -> 100.0, "BL" -> 200.0, "TR" -> 400.0, "BR" -> 150.0)
    val popUdf = udf((n: String) => pops(n))
    df.select(col("properties")("name").as("name"), col("geometry"))
      .withColumn("population", popUdf(col("name")))
  }

  def geomsByName(rows: Array[org.apache.spark.sql.Row], geomCol: String = "geometry"): Map[String, Geom] =
    rows.map(r => r.getAs[String]("name") -> Wkt.read(r.getAs[String](geomCol))).toMap

  test("GeoJsonSource reads the FeatureCollection distributed") {
    assert(squares.count() === 4)
    assert(squares.select("name").collect().map(_.getString(0)).toSet ===
      Set("TL", "BL", "TR", "BR"))
  }

  test("Borders matches libpysal Queen on the fixture: 12 directed pairs") {
    val b = Borders.compute(squares, "name", "geometry").collect()
    assert(b.length === 12) // 6 unordered: 4 edges + 2 diagonals
    val w = b.map(r => (r.getAs[String]("focal_id"), r.getAs[String]("neighbor_id")) ->
      r.getAs[Double]("weight")).toMap
    assert(math.abs(w(("BL", "TL")) - 0.064613) < 1e-9)  // shared horizontal edge
    assert(math.abs(w(("TL", "TR")) - 0.040647) < 1e-9)  // shared vertical edge
    assert(w(("BL", "TR")) === 0.0)                      // vertex-only (Queen diagonal)
    assert(w(("BR", "TL")) === 0.0)
    // symmetric
    assert(w(("TL", "BL")) === w(("BL", "TL")))
  }

  test("NonContiguous: scale = sqrt(density/anchor), in place") {
    val out = NonContiguous.run(squares, "name", "population", "geometry").collect()
    val scales = out.map(r => r.getAs[String]("id") -> r.getAs[Double]("scale")).toMap
    // closed-form densities
    val areas = squares.collect().map(r =>
      r.getAs[String]("name") -> Ops.area(Wkt.read(r.getAs[String]("geometry")))).toMap
    val dens = Map("TL" -> 100.0 / areas("TL"), "BL" -> 200.0 / areas("BL"),
      "TR" -> 400.0 / areas("TR"), "BR" -> 150.0 / areas("BR"))
    val anchor = dens.values.max
    dens.foreach { case (n, d) =>
      assert(math.abs(scales(n) - math.sqrt(d / anchor)) < 1e-12, s"scale($n)")
    }
    // anchor region keeps scale 1 and its geometry unchanged
    val anchorName = dens.maxBy(_._2)._1
    assert(math.abs(scales(anchorName) - 1.0) < 1e-12)
    // scaled geometry keeps its centroid, area scales by f^2
    val outGeo = out.map(r => r.getAs[String]("id") -> Wkt.read(r.getAs[String]("geometry"))).toMap
    val origGeo = squares.collect().map(r =>
      r.getAs[String]("name") -> Wkt.read(r.getAs[String]("geometry"))).toMap
    outGeo.foreach { case (n, g) =>
      val c0 = Ops.centroid(origGeo(n)); val c1 = Ops.centroid(g)
      assert(math.abs(c0.x - c1.x) < 1e-9 && math.abs(c0.y - c1.y) < 1e-9)
      assert(math.abs(Ops.area(g) - Ops.area(origGeo(n)) * scales(n) * scales(n)) < 1e-12)
    }
  }

  test("Dorling radii: r_i = k*sqrt(V_i/pi), k = D/R over directed pairs") {
    val (regions, k) = Dorling.radii(squares, "name", "population", "geometry")
    val rs = regions.collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("radius")).toMap
    // radius ratios follow sqrt(value) exactly
    assert(math.abs(rs("TR") / rs("TL") - 2.0) < 1e-12)          // sqrt(400/100)
    assert(math.abs(rs("BL") / rs("TL") - math.sqrt(2.0)) < 1e-12)
    assert(rs.values.forall(_ > 0))
    // k from closed form: D = sum of centroid distances over 12
    // directed pairs / R = sum of radius sums
    val cents = squares.collect().map(r =>
      r.getAs[String]("name") -> Ops.centroid(Wkt.read(r.getAs[String]("geometry")))).toMap
    val vals = Map("TL" -> 100.0, "BL" -> 200.0, "TR" -> 400.0, "BR" -> 150.0)
    val pairs = Seq("TL" -> "BL", "TL" -> "TR", "TL" -> "BR", "BL" -> "TR",
      "BL" -> "BR", "TR" -> "BR").flatMap(p => Seq(p, p.swap))
    val d = pairs.map { case (a, b) => cents(a).dist(cents(b)) }.sum
    val r = pairs.map { case (a, b) =>
      math.sqrt(vals(a) / math.Pi) + math.sqrt(vals(b) / math.Pi) }.sum
    assert(math.abs(k - d / r) < 1e-9)
    rs.foreach { case (n, radius) =>
      assert(math.abs(radius - k * math.sqrt(vals(n) / math.Pi)) < 1e-12)
    }
  }

  test("sequential (reference-exact Gauss-Seidel) vs Jacobi: same radii, close positions") {
    val seq = Dorling.runSequential(squares, "name", "population", "geometry",
      iterations = 20)
    val jac = Dorling.run(squares, "name", "population", "geometry", iterations = 20)
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[Double]("radius"), r.getAs[Double]("x"), r.getAs[Double]("y"))).toMap
    seq.foreach { case (id, _, radius, sx, sy) =>
      val (jr, jx, jy) = jac(id)
      assert(math.abs(radius - jr) < 1e-12, s"radius($id)")       // identical model
      // Gauss-Seidel and Jacobi converge to nearby configurations;
      // positions should agree to within a fraction of a radius
      val d = math.sqrt((sx - jx) * (sx - jx) + (sy - jy) * (sy - jy))
      assert(d < radius, s"position($id) diverged: $d vs radius $radius")
    }
  }

  test("driver vs distributed Jacobi at the 100-iteration default: bit-equal") {
    // Both paths accumulate per-focal forces in scale-12 decimal
    // (order-independent exact addition) and share every per-row IEEE
    // expression, so positions must be IDENTICAL — not merely close —
    // at any iteration count. smallN past the region count forces the
    // driver loop, smallN = 0 the distributed per-iteration step.
    def runPath(df: org.apache.spark.sql.DataFrame, smallN: Int): Map[String, (Double, Double, Double)] =
      Dorling.run(df, "name", "population", "geometry",
          iterations = 100, smallN = smallN)
        .collect().map(r => r.getAs[String]("id") ->
          ((r.getAs[Double]("radius"), r.getAs[Double]("x"), r.getAs[Double]("y")))).toMap
    def drifts(df: org.apache.spark.sql.DataFrame): Map[String, (Double, Double)] = {
      val drv = runPath(df, Int.MaxValue)
      val dist = runPath(df, 0)
      drv.map { case (id, (rr, dx, dy)) =>
        val (jr, jx, jy) = dist(id)
        assert(math.abs(rr - jr) < 1e-12, s"radius($id)")   // identical model
        id -> ((math.sqrt((dx - jx) * (dx - jx) + (dy - jy) * (dy - jy)), rr))
      }
    }
    // SETTLING configuration (the practical regime — 100 iterations
    // exist to converge): a 3x3 grid whose circles separate and stop.
    import spark.implicits._
    val grid3 = (for (r <- 0 until 3; c <- 0 until 3) yield {
      val x0 = c * 4.0; val y0 = r * 4.0
      (s"R$r$c",
        s"POLYGON (($x0 $y0, ${x0 + 4} $y0, ${x0 + 4} ${y0 + 4}, $x0 ${y0 + 4}, $x0 $y0))",
        50.0 + 10.0 * (r * 3 + c))
    }).toDF("name", "geometry", "population")
    drifts(grid3).foreach { case (id, (d, _)) =>
      assert(d == 0.0, s"settling position($id) drifted $d; paths must be bit-equal")
    }
    // NEVER-SETTLING configuration (4 squares, radii >> spacing,
    // every pair in contact every iteration): contact discontinuities
    // would amplify ANY accumulation difference chaotically (the
    // pre-parity double-sum driver loop measured 0.27 r here) — the
    // decimal accumulation makes even this regime exactly equal.
    drifts(squares).foreach { case (id, (d, rr)) =>
      assert(d == 0.0,
        s"chaotic position($id) drifted $d (radius $rr); paths must be bit-equal")
    }
  }

  test("Dorling run: circles separate overlapping regions and stay finite") {
    val out = Dorling.run(squares, "name", "population", "geometry",
      iterations = 20).collect()
    assert(out.length === 4)
    val circles = out.map { r =>
      (r.getAs[String]("id"), r.getAs[Double]("x"), r.getAs[Double]("y"),
       r.getAs[Double]("radius"))
    }
    circles.foreach { case (_, x, y, rad) =>
      assert(!x.isNaN && !y.isNaN && !x.isInfinite && !y.isInfinite && rad > 0)
    }
    // total overlap should shrink vs iteration 0 (radii >> rectangle
    // spacing, so initial circles overlap heavily)
    def totalOverlap(cs: Array[(String, Double, Double, Double)]): Double =
      (for { a <- cs; b <- cs if a._1 < b._1 } yield {
        val d = math.sqrt((a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3))
        math.max(0.0, a._4 + b._4 - d)
      }).sum
    val init = Dorling.run(squares, "name", "population", "geometry", iterations = 0)
      .collect().map { r =>
        (r.getAs[String]("id"), r.getAs[Double]("x"), r.getAs[Double]("y"),
         r.getAs[Double]("radius")) }
    assert(totalOverlap(circles) < totalOverlap(init))
    // geometry column is a valid 64-gon circle of the right area
    val g = Wkt.read(out.head.getAs[String]("geometry"))
    val rad = out.head.getAs[Double]("radius")
    assert(math.abs(Ops.area(g) - math.Pi * rad * rad) / (math.Pi * rad * rad) < 0.002)
  }
}
