package graft

import org.apache.spark.sql.functions._
import graft.sources.{CsvAttrs, GeoJsonSource}

/** The pycart-shaped user journey end to end: GeoJSON + CSV ->
  * Cartogram facade -> outputs -> GeoJSON round trip. Mirrors the
  * reference quickstart (reference README + main.py) on its own
  * fixture data. */
class FacadeSpec extends SparkSuite {

  lazy val gdf = {
    val geo = GeoJsonSource.readFeatureCollection(
        spark, "data/Test/square_test.geojson")
      .select(col("id"), col("properties")("name").as("name"), col("geometry"))
    val pop = CsvAttrs.read(spark, "data/Test/squares_pop.csv")
      .select(col("name"), CsvAttrs.cleanLong(col("Population")).as("population"))
    CsvAttrs.mergeAttrs(geo, "name", pop, "name")
  }

  test("CSV attribute parse + clean + merge (reference main.py flow)") {
    val rows = gdf.collect()
    assert(rows.length === 4)
    val pops = rows.map(r => r.getAs[String]("name") -> r.getAs[Long]("population")).toMap
    assert(pops === Map("TL" -> 100L, "BL" -> 200L, "TR" -> 400L, "BR" -> 150L))
  }

  test("cleanLong handles thousand separators and junk") {
    import spark.implicits._
    val df = Seq("1,234,567", "42", "n/a", null).toDF("v")
    val out = df.select(CsvAttrs.cleanLong(col("v"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq === Seq(Some(1234567L), Some(42L), None, None))
  }

  test("subsetByKeys keeps only entity-matched attribute rows") {
    import spark.implicits._
    val attrs = Seq(("TL", 1), ("XX", 2), ("BR", 3)).toDF("name", "x")
    val out = CsvAttrs.subsetByKeys(attrs, "name", gdf, "name")
      .select("name").collect().map(_.getString(0)).toSet
    assert(out === Set("TL", "BR"))
  }

  test("Cartogram facade runs both algorithms and borders") {
    val cart = Cartogram(gdf, valueField = "population", idField = "name")
    assert(cart.nonContiguous().count() === 4)
    assert(cart.borders().count() === 12)
    val d = cart.dorling(iterations = 10, stop = Some(5))
    assert(d.count() === 4)
    assert(d.columns.contains("geometry"))
  }

  test("GeoJSON round trip: write feature lines, read them back") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gj").toString + "/out"
    GeoJsonSource.writeFeatureLines(
      gdf.select(col("id"),
        map(lit("name"), col("name")).as("properties"), col("geometry")), tmp)
    val back = GeoJsonSource.readFeatureLines(spark, tmp)
    assert(back.count() === 4)
    val names = back.select(col("properties")("name")).collect().map(_.getString(0)).toSet
    assert(names === Set("TL", "BL", "TR", "BR"))
    // geometry survives the round trip exactly (same WKT)
    val orig = gdf.select(col("name"), col("geometry")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    back.select(col("properties")("name"), col("geometry")).collect()
      .foreach(r => assert(r.getString(1) === orig(r.getString(0))))
  }

  test("CRS tag round-trips through the facade and the GeoJSON sink (main.py:140)") {
    import graft.sources.GeoCrs
    // tag survives write -> read of the line format
    val tagged = GeoCrs.tag(
      gdf.select(col("id"), map(lit("name"), col("name")).as("properties"), col("geometry")),
      "EPSG:27700")
    assert(GeoCrs.of(tagged) === Some("EPSG:27700"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_crs").toString + "/out"
    GeoJsonSource.writeFeatureLines(tagged, tmp)
    val back = GeoJsonSource.readFeatureLines(spark, tmp)
    assert(GeoCrs.of(back) === Some("EPSG:27700"))
    assert(back.count() === 4) // the metadata line is not a feature
    // untagged frames stay untagged
    val plain = GeoJsonSource.readFeatureLines(spark, {
      val t2 = java.nio.file.Files.createTempDirectory("graft_crs2").toString + "/out"
      GeoJsonSource.writeFeatureLines(
        gdf.select(col("id"), map(lit("name"), col("name")).as("properties"),
          col("geometry")), t2)
      t2
    })
    assert(GeoCrs.of(plain) === None)
    // the Cartogram facade re-attaches the input tag to its outputs
    val cart = Cartogram(GeoCrs.tag(gdf, "EPSG:27700"), "population", "name")
    assert(GeoCrs.of(cart.nonContiguous()) === Some("EPSG:27700"))
    assert(GeoCrs.of(cart.dorling(iterations = 1)) === Some("EPSG:27700"))
  }
}
