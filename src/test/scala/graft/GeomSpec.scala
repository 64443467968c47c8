package graft

import graft.geom._

/** Kernel parity with shapely on the reference's own test fixture
  * (data/Test/square_test.geojson — 4 rectangles).
  * Expected values are closed-form (axis-aligned rectangles).
  */
class GeomSpec extends org.scalatest.funsuite.AnyFunSuite {

  val x0 = -3.634135; val x1 = -3.569522; val x2 = -3.504629
  val yB = 50.407205; val yM = 50.446137; val yT = 50.486784

  def rect(ax: Double, ay: Double, bx: Double, by: Double): GPolygon =
    GPolygon(Poly(Ring(Vector(Pt(ax, ay), Pt(bx, ay), Pt(bx, by), Pt(ax, by), Pt(ax, ay)))))

  val tl = rect(x0, yM, x1, yT)
  val bl = rect(x0, yB, x1, yM)
  val tr = rect(x1, yM, x2, yT)
  val br = rect(x1, yB, x2, yM)

  val eps = 1e-12

  test("area = w*h for rectangles") {
    assert(math.abs(Ops.area(tl) - (x1 - x0) * (yT - yM)) < eps)
    assert(math.abs(Ops.area(br) - (x2 - x1) * (yM - yB)) < eps)
  }

  test("perimeter = 2(w+h)") {
    assert(math.abs(Ops.perimeter(tl) - 2 * ((x1 - x0) + (yT - yM))) < eps)
  }

  test("centroid = rectangle center") {
    val c = Ops.centroid(tl)
    assert(math.abs(c.x - (x0 + x1) / 2) < 1e-9)
    assert(math.abs(c.y - (yM + yT) / 2) < 1e-9)
  }

  test("bbox") {
    assert(Ops.bbox(tl) === ((x0, yM, x1, yT)))
  }

  test("scale about centroid: shapely affinity semantics") {
    val c = Ops.centroid(tl)
    val s = Ops.scale(tl, 0.5, 0.5, c)
    assert(math.abs(Ops.area(s) - 0.25 * Ops.area(tl)) < 1e-9)
    val sc = Ops.centroid(s)
    assert(math.abs(sc.x - c.x) < 1e-9 && math.abs(sc.y - c.y) < 1e-9)
  }

  test("translate") {
    val t = Ops.translate(tl, 1.0, -2.0).asInstanceOf[GPolygon]
    val c0 = Ops.centroid(tl); val c1 = Ops.centroid(t)
    assert(math.abs(c1.x - (c0.x + 1.0)) < 1e-9)
    assert(math.abs(c1.y - (c0.y - 2.0)) < 1e-9)
  }

  test("distance: separated, touching, overlapping") {
    assert(Ops.distance(GPoint(Pt(0, 0)), GPoint(Pt(3, 4))) === 5.0)
    assert(Ops.distance(tl, br) === 0.0)          // touch at a vertex
    assert(Ops.distance(tl, bl) === 0.0)          // share an edge
    val far = rect(0, 0, 1, 1)
    val d = Ops.distance(tl, far)                 // disjoint
    assert(d > 0)
  }

  test("Queen contiguity: edges AND vertices touch") {
    assert(Ops.touches(tl, bl)) // edge
    assert(Ops.touches(tl, tr)) // edge
    assert(Ops.touches(tl, br)) // vertex only
    assert(!Ops.touches(tl, rect(0, 0, 1, 1)))
  }

  test("shared border length: edge pairs get the edge, vertex pairs get 0") {
    assert(math.abs(Ops.sharedBorderLength(tl, bl) - (x1 - x0)) < 1e-9)
    assert(math.abs(Ops.sharedBorderLength(tl, tr) - (yT - yM)) < 1e-9)
    assert(Ops.sharedBorderLength(tl, br) === 0.0) // vertex contact
    assert(math.abs(Ops.sharedBorderLength(bl, br) - (yM - yB)) < 1e-9)
  }

  test("buffer point approximates a circle") {
    val c = Ops.bufferPoint(Pt(2, 3), 1.0, 16)
    // 64-gon area -> pi within 0.2%
    assert(math.abs(Ops.area(c) - math.Pi) / math.Pi < 0.002)
    val cc = Ops.centroid(c)
    assert(math.abs(cc.x - 2.0) < 1e-9 && math.abs(cc.y - 3.0) < 1e-9)
  }

  test("WKT round trip preserves exact coordinates") {
    val w = Wkt.write(tl)
    assert(w.startsWith("POLYGON (("))
    assert(Wkt.read(w) === tl)
    val mp = GMultiPolygon(Vector(tl.poly, br.poly))
    assert(Wkt.read(Wkt.write(mp)) === mp)
    val p = GPoint(Pt(1.5, -2.25))
    assert(Wkt.read(Wkt.write(p)) === p)
  }

  test("polygon with hole: area subtracts, centroid weighted") {
    val outer = Ring(Vector(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(0, 4), Pt(0, 0)))
    val hole = Ring(Vector(Pt(1, 1), Pt(2, 1), Pt(2, 2), Pt(1, 2), Pt(1, 1)))
    val g = GPolygon(Poly(outer, Vector(hole)))
    assert(math.abs(Ops.area(g) - 15.0) < eps)
    // centroid: (16*2 - 1*1.5)/15 = 30.5/15
    val c = Ops.centroid(g)
    assert(math.abs(c.x - 30.5 / 15.0) < eps)
  }

  test("GeoJSON: parse the reference FeatureCollection fixture") {
    val src = scala.io.Source.fromFile("data/Test/square_test.geojson")
    val json = try src.mkString finally src.close()
    val feats = GeoJson.parseCollection(json)
    assert(feats.length === 4)
    assert(feats.map(_.properties("name")).toSet === Set("TL", "BL", "TR", "BR"))
    val tlFeat = feats.find(_.properties("name") == "TL").get
    assert(math.abs(Ops.area(tlFeat.geom) - Ops.area(tl)) < eps)
  }
}
