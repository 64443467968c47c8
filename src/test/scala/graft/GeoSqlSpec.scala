package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

import graft.functions.GeoFunctions

/** The SQL-registered surface of the geometry functions. */
class GeoSqlSpec extends SparkSuite {

  test("st_* functions are callable from SQL after register()") {
    GeoFunctions.registerBuilders(spark)
    val row = spark.sql(
      """SELECT
        |  st_area('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS a,
        |  st_perimeter('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS p,
        |  st_centroid_x('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS cx,
        |  st_distance('POINT (0 0)', 'POINT (3 4)') AS d,
        |  st_touches('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))',
        |             'POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))') AS t,
        |  st_shared_border('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))',
        |                   'POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))') AS sb
        |""".stripMargin).collect()(0)
    assert(row.getAs[Double]("a") === 16.0)
    assert(row.getAs[Double]("p") === 16.0)
    assert(row.getAs[Double]("cx") === 2.0)
    assert(row.getAs[Double]("d") === 5.0)
    assert(row.getAs[Boolean]("t"))
    assert(row.getAs[Double]("sb") === 1.0)
  }

  test("st_measures agrees with the per-measure functions from one parse") {
    GeoFunctions.registerBuilders(spark)
    val wkt = "'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'"
    val row = spark.sql(
      s"""SELECT st_measures($wkt) AS m, st_area($wkt) AS a,
         |  st_perimeter($wkt) AS p, st_bbox($wkt) AS bb""".stripMargin).collect()(0)
    val m = row.getStruct(0)
    assert(m.getAs[Double]("area") === row.getAs[Double]("a"))
    assert(m.getAs[Double]("perimeter") === row.getAs[Double]("p"))
    assert(m.getAs[Double]("cx") === 2.0 && m.getAs[Double]("cy") === 2.0)
    assert(m.getAs[Double]("minx") === 0.0 && m.getAs[Double]("maxx") === 4.0)
    assert(m.getAs[Double]("miny") === 0.0 && m.getAs[Double]("maxy") === 4.0)
  }

  test("q20's multi-measure projection parses each WKT exactly once") {
    val plan = graft.queries.Geo.q20(spark, sf).queryExecution.executedPlan.toString
    val nUdf = "UDF\\(".r.findAllMatchIn(plan).size
    assert(nUdf == 1, s"expected 1 UDF invocation per row, plan has $nUdf:\n$plan")
  }

  test("every st_* function returns NULL for a NULL argument at any " +
    "position, through SQL and through the Column API") {
    import GeoFunctions._
    GeoFunctions.registerBuilders(spark)
    val sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    val w = ("string", s"'$sq'", lit(sq))
    val d = ("double", "1.5", lit(1.5))
    // name, Column function, one valid argument list
    val fns: Seq[(String, Seq[Column] => Column, Seq[(String, String, Column)])] = Seq(
      ("st_area", a => st_area(a(0)), Seq(w)),
      ("st_perimeter", a => st_perimeter(a(0)), Seq(w)),
      ("st_centroid_x", a => st_centroid_x(a(0)), Seq(w)),
      ("st_centroid_y", a => st_centroid_y(a(0)), Seq(w)),
      ("st_bbox", a => st_bbox(a(0)), Seq(w)),
      ("st_measures", a => st_measures(a(0)), Seq(w)),
      ("st_scale", a => st_scale(a(0), a(1), a(2), a(3), a(4)), Seq(w, d, d, d, d)),
      ("st_scale_about_centroid", a => st_scale_about_centroid(a(0), a(1)), Seq(w, d)),
      ("st_translate", a => st_translate(a(0), a(1), a(2)), Seq(w, d, d)),
      ("st_buffer_point", a => st_buffer_point(a(0), a(1), a(2), a(3)),
        Seq(d, d, d, ("int", "4", lit(4)))),
      ("st_distance", a => st_distance(a(0), a(1)), Seq(w, w)),
      ("st_touches", a => st_touches(a(0), a(1)), Seq(w, w)),
      ("st_shared_border", a => st_shared_border(a(0), a(1)), Seq(w, w)),
      ("st_geojson_to_wkt", a => st_geojson_to_wkt(a(0)),
        Seq(("string", """'{"type":"Point","coordinates":[1,2]}'""",
          lit("""{"type":"Point","coordinates":[1,2]}""")))),
      ("st_convex_intersection_area", a => st_convex_intersection_area(a(0), a(1)), Seq(w, w)),
      ("st_intersection_area", a => st_intersection_area(a(0), a(1)), Seq(w, w)),
      ("st_intersection", a => st_intersection(a(0), a(1)), Seq(w, w)),
      ("st_transform", a => st_transform(a(0), a(1), a(2)),
        Seq(w, ("string", "'EPSG:4326'", lit("EPSG:4326")),
          ("string", "'EPSG:3857'", lit("EPSG:3857")))))
    assert(fns.map(_._1).distinct.size === 18)
    fns.foreach { case (name, fn, args) =>
      def viaSql(a: Seq[String]) = spark.sql(s"SELECT $name(${a.mkString(", ")})").head()
      def viaColumn(a: Seq[Column]) = spark.range(1).select(fn(a)).head()
      // the valid call answers, so a NULL answer below is the NULL rule
      assert(!viaSql(args.map(_._2)).isNullAt(0), s"$name on valid SQL args")
      assert(!viaColumn(args.map(_._3)).isNullAt(0), s"$name on valid Column args")
      args.indices.foreach { i =>
        val typ = args(i)._1
        val sql = args.map(_._2).updated(i, s"CAST(NULL AS $typ)")
        val cols = args.map(_._3).updated(i, lit(null).cast(typ))
        assert(viaSql(sql).isNullAt(0), s"SQL $name with NULL argument ${i + 1}")
        assert(viaColumn(cols).isNullAt(0), s"Column $name with NULL argument ${i + 1}")
      }
    }
  }
}
