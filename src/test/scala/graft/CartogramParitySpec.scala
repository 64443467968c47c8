package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Borders, Dorling}

/** Borders and Dorling take a driver path up to [[Borders.SmallN]]
  * regions and the distributed one above it (or at `smallN = 0`). Both
  * must give bit-equal rows with equal schemas; these fixtures are
  * inline WKT, so the check runs without any data files. */
class CartogramParitySpec extends SparkSuite {
  import CartogramParitySpec._

  private def df(regions: Seq[(String, String, Double)]): DataFrame = {
    import spark.implicits._
    regions.toDF("name", "geometry", "population")
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Borders rows as sorted (focal, neighbour, weight bits). */
  private def borderRows(b: DataFrame): Seq[(String, String, Long)] =
    b.collect().map(r => (r.getString(0), r.getString(1), bits(r.getDouble(2)))).sorted.toSeq

  for ((label, regions) <- Seq("3x3 settling grid" -> grid3,
      "4-rectangle all-contact set" -> allContact, "string ids, non-ASCII and long" -> oddIds,
      "3x3 grid and an empty region" -> withEmpty)) {

    test(s"$label: Borders driver path and grid give bit-equal rows and schemas") {
      val in = df(regions)
      val driver = Borders.compute(in, "name", "geometry")
      val grid = Borders.grid(in, "name", "geometry")
      assert(driver.schema === grid.schema)
      assert(borderRows(driver).nonEmpty)
      assert(borderRows(driver) === borderRows(grid))
    }

    test(s"$label: Dorling driver path and distributed step bit-equal at 0 and 100 iterations") {
      val in = df(regions)
      for (iterations <- Seq(0, 100)) {
        val driver = Dorling.run(in, "name", "population", "geometry", iterations = iterations)
        val dist = Dorling.run(in, "name", "population", "geometry", iterations = iterations,
          smallN = 0)
        assert(driver.schema === dist.schema, s"at $iterations iterations")
        def rows(d: DataFrame) = d.collect().map(r => (r.getString(0),
          (bits(r.getAs[Double]("radius")), bits(r.getAs[Double]("x")), bits(r.getAs[Double]("y")))))
          .sortBy(_._1).toSeq
        assert(rows(driver).length === regions.length)
        assert(rows(driver) === rows(dist), s"at $iterations iterations")
      }
    }

    test(s"$label: the driver k equals Dorling.radii's k exactly") {
      val in = df(regions)
      val rows = in.select(col("name"), col("population").cast("double"), col("geometry")).collect()
      val local = Dorling.local(rows, in.schema("name").dataType).get
      val (_, k) = Dorling.radii(in, "name", "population", "geometry",
        Some(Borders.grid(in, "name", "geometry")))
      assert(bits(local.k) === bits(k))
    }
  }

  test("a null geometry or a null id drops out of Borders on both paths") {
    val in = df(grid3.map { case (id, g, v) =>
      (if (id == "R12") null else id, if (id == "R11") null else g, v) })
    val without = df(grid3.filter(r => r._1 != "R11" && r._1 != "R12"))
    val expected = borderRows(Borders.compute(without, "name", "geometry"))
    assert(expected.nonEmpty)
    assert(borderRows(Borders.compute(in, "name", "geometry")) === expected)
    assert(borderRows(Borders.grid(in, "name", "geometry")) === expected)
  }

  test("job guard: Borders.grid on a 64-region map runs <= 6 jobs") {
    val jobs = jobsOf(Borders.grid(df(lattice(8)), "name", "geometry").collect())
    info(s"Borders.grid: $jobs jobs")
    assert(jobs <= 6)
  }

  test("job guard: a 64-region map runs Borders in <= 3 jobs and Dorling in <= 4") {
    val in = df(lattice(8))
    val borders = jobsOf(Borders.compute(in, "name", "geometry").collect())
    val dorling = jobsOf(Dorling.run(in, "name", "population", "geometry", iterations = 100).collect())
    info(s"Borders.compute: $borders jobs, Dorling.run(100): $dorling jobs")
    assert(borders <= 3)
    assert(dorling <= 4)
  }

  test("job guard: the same map checkpointed over 8 partitions keeps those bounds") {
    val in = df(lattice(8)).repartition(8).localCheckpoint()
    assert(in.rdd.getNumPartitions === 8)
    val borders = jobsOf(Borders.compute(in, "name", "geometry").collect())
    val dorling = jobsOf(Dorling.run(in, "name", "population", "geometry", iterations = 100).collect())
    info(s"Borders.compute: $borders jobs, Dorling.run(100): $dorling jobs")
    assert(borders <= 3)
    assert(dorling <= 4)
  }

  test("job guard: smallN = 0 still runs the grid and the distributed step") {
    val in = df(lattice(8))
    val setup = stagesPerJob(Dorling.run(in, "name", "population", "geometry",
      iterations = 0, smallN = 0).collect())
    val oneStep = stagesPerJob(Dorling.run(in, "name", "population", "geometry",
      iterations = 1, smallN = 0).collect())
    info(s"Dorling.run(smallN = 0): stages per job ${setup.mkString(", ")} at 0 iterations, " +
      s"${oneStep.mkString(", ")} at 1")
    assert(setup.exists(_ >= 5), "the prologue's k job runs the grid's shuffle and the three " +
      "shuffles that meet borders with regions")
    assert(oneStep.length > setup.length, "an iteration runs a distributed step")
    assert(oneStep.length - setup.length <= 2, "an iteration adds at most 2 jobs")
  }
}

object CartogramParitySpec {
  private def rect(x0: Double, y0: Double, x1: Double, y1: Double): String =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

  /** settles: circles separate and stop */
  val grid3: Seq[(String, String, Double)] =
    for (r <- 0 until 3; c <- 0 until 3)
      yield (s"R$r$c", rect(c * 4.0, r * 4.0, c * 4.0 + 4, r * 4.0 + 4), 50.0 + 10.0 * (r * 3 + c))

  /** four rectangles meeting at one vertex: every pair is a Queen pair
    * and every circle overlaps every other, so any accumulation-order
    * difference between the paths would compound */
  val allContact: Seq[(String, String, Double)] = Seq(
    ("TL", rect(0, 0.05, 0.04, 0.1), 100.0), ("TR", rect(0.04, 0.05, 0.1, 0.1), 400.0),
    ("BL", rect(0, 0, 0.04, 0.05), 200.0), ("BR", rect(0.04, 0, 0.1, 0.05), 150.0))

  /** a jittered 3x3 lattice whose ids order differently by bytes than
    * by UTF-16 units ("Ａ" < "😀" in bytes only) or share a
    * 300-character prefix; the first region's ring splits the edge it
    * shares with "😀" at its midpoint, so the weight's bits depend on
    * which of the two is `lo` */
  val oddIds: Seq[(String, String, Double)] = {
    val ids = Seq("Ａ", "😀", "é", "z", "Z", "日本",
      "a" * 300 + "b", "a" * 300 + "a", "naïve")
    val rnd = new scala.util.Random(7)
    val px = Array.tabulate(4, 4)((i, j) => if (i % 3 == 0 || j % 3 == 0) i * 0.3 else i * 0.3 + rnd.nextDouble() * 0.1)
    val py = Array.tabulate(4, 4)((i, j) => if (i % 3 == 0 || j % 3 == 0) j * 0.3 else j * 0.3 + rnd.nextDouble() * 0.1)
    // a corner at which the two orders of the split edge's sum round apart
    px(1)(1) = 0.32360480897374344; py(1)(1) = 0.31031660342307155
    for (j <- 0 until 3; i <- 0 until 3) yield {
      def pt(a: Int, b: Int) = s"${px(a)(b)} ${py(a)(b)}"
      val split = if (i == 0 && j == 0)
        Seq(s"${(px(1)(0) + px(1)(1)) / 2} ${(py(1)(0) + py(1)(1)) / 2}") else Nil
      val ring = (Seq(pt(i, j), pt(i + 1, j)) ++ split ++
        Seq(pt(i + 1, j + 1), pt(i, j + 1), pt(i, j))).mkString(", ")
      (ids(j * 3 + i), s"POLYGON (($ring))", 10.0 + 7.0 * (j * 3 + i))
    }
  }

  /** [[grid3]] and a region with an empty geometry: no bbox, no centroid */
  val withEmpty: Seq[(String, String, Double)] = grid3 :+ (("R33", "MULTIPOLYGON EMPTY", 75.0))

  /** `side` x `side` unit squares */
  def lattice(side: Int): Seq[(String, String, Double)] =
    for (j <- 0 until side; i <- 0 until side)
      yield (f"R$i%02d_$j%02d", rect(i, j, i + 1, j + 1), 100.0 + (i * 31 + j * 17) % 50)
}
