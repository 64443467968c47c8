package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.operators.{Borders, Dorling}

/** Cartogram operators at a few hundred regions (the driver fixtures
  * have 4): a 20x20 full tessellation has a closed-form Queen
  * adjacency structure, so border counts/weights verify exactly, and
  * the Dorling loop must stay finite and converging. */
class BordersScaleSpec extends SparkSuite {

  val n = 20
  lazy val grid = {
    import spark.implicits._
    (0 until n * n).map { k =>
      val gx = k % n; val gy = k / n
      val (x0, y0, x1, y1) = (gx * 4, gy * 4, gx * 4 + 4, gy * 4 + 4)
      (k.toLong,
        s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))",
        1.0 + (k % 7))
    }.toDF("id", "geometry", "value")
  }

  /** Borders through [[Borders.compute]] (the driver path at these
    * sizes) and through the distributed grid entry, each checked by
    * `closedForm`; the two outputs must be equal row for row. */
  private def bothPaths(df: DataFrame)(closedForm: Array[Row] => Unit): Unit = {
    val viaCompute = Borders.compute(df, "id", "geometry").collect()
    val viaGrid = Borders.grid(df, "id", "geometry").collect()
    closedForm(viaCompute)
    closedForm(viaGrid)
    def sorted(b: Array[Row]) = b.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sorted.toSeq
    assert(sorted(viaCompute) === sorted(viaGrid))
  }

  test("Queen borders on a 20x20 tessellation match the closed form") {
    bothPaths(grid) { b =>
      // directed neighbor count: interior 8, edge 5, corner 3
      val expected = 8 * (n - 2) * (n - 2) + 5 * 4 * (n - 2) + 3 * 4
      assert(b.length === expected)
      // edge-adjacent pairs weigh the full side (4.0), diagonal pairs 0
      b.foreach { r =>
        val i = r.getAs[Long]("focal_id"); val j = r.getAs[Long]("neighbor_id")
        val (xi, yi) = (i % n, i / n); val (xj, yj) = (j % n, j / n)
        val manhattan = math.abs(xi - xj) + math.abs(yi - yj)
        val w = r.getAs[Double]("weight")
        if (manhattan == 1) assert(w === 4.0, s"pair $i-$j") else assert(w === 0.0, s"pair $i-$j")
      }
    }
  }

  test("Queen borders stay exact and bounded with a 100x-extent outlier polygon") {
    import spark.implicits._
    // the 20x20 unit-ish tessellation (extent 4) plus one strip 100x
    // the median extent sitting directly on the grid's top edge: the
    // old max-extent grid would inflate EVERY cell to 400 and collapse
    // the whole input into a handful of buckets; the leveled grid must
    // keep the tessellation's fine cells and still find the strip's
    // adjacencies exactly once.
    val top = 4 * n
    val big = Seq(((n * n).toLong,
      s"POLYGON ((0 $top, 400 $top, 400 ${top + 400}, 0 ${top + 400}, 0 $top))",
      1.0)).toDF("id", "geometry", "value")
    val withStrip = grid.unionAll(big)
    val t0 = System.nanoTime()
    Borders.grid(withStrip, "id", "geometry").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    bothPaths(withStrip) { b =>
      // grid-internal adjacency unchanged
      val gridPairs = b.filter(r => r.getAs[Long]("focal_id") < n * n &&
        r.getAs[Long]("neighbor_id") < n * n)
      val expected = 8 * (n - 2) * (n - 2) + 5 * 4 * (n - 2) + 3 * 4
      assert(gridPairs.length === expected)
      // the strip touches exactly the n top-row cells, sharing their
      // full 4.0 top edges (x in [0, 4n] ⊂ [0, 400])
      val bigPairs = b.filter(_.getAs[Long]("focal_id") === n.toLong * n)
      assert(bigPairs.length === n, s"strip adjacencies: ${bigPairs.length}")
      bigPairs.foreach { r =>
        val nb = r.getAs[Long]("neighbor_id")
        assert(nb >= (n - 1).toLong * n && nb < n.toLong * n, s"non-top-row neighbor $nb")
        assert(r.getAs[Double]("weight") === 4.0)
      }
    }
    info(f"outlier borders (grid) in $secs%.1f s")
    assert(secs < 60.0, s"outlier grid too slow: $secs s — candidate blow-up?")
  }

  /** Dorling's driver loop and distributed step at `iterations`: every
    * region's x and y must be equal in raw bits. */
  private def bitEqualPaths(iterations: Int): Unit = {
    def xy(smallN: Int) = Dorling.run(grid, "id", "value", "geometry", iterations = iterations, smallN = smallN)
      .collect().map(r => r.getAs[Long]("id") -> (java.lang.Double.doubleToRawLongBits(r.getAs[Double]("x")),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("y")))).toMap
    val (fast, dist) = (xy(Borders.SmallN), xy(0))
    assert(fast.size === n * n)
    assert(fast === dist)
  }

  test("driver-side Jacobi fast path matches the distributed step on 400 regions") {
    bitEqualPaths(3)
  }

  test("Jacobi paths stay bit-equal over 30 iterations") {
    bitEqualPaths(30)
  }

  test("Dorling stays finite and reduces overlap on 400 regions") {
    val t0 = System.nanoTime()
    val out = Dorling.run(grid, "id", "value", "geometry", iterations = 10, smallN = 0)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length === n * n)
    out.foreach { r =>
      assert(!r.getAs[Double]("x").isNaN && !r.getAs[Double]("y").isNaN)
      assert(r.getAs[Double]("radius") > 0)
    }
    info(f"10 Dorling iterations over ${n * n} regions: $secs%.1f s")
    assert(secs < 120.0, s"Dorling too slow: $secs s")
  }
}
