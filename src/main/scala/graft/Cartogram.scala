package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Borders, Dorling, NonContiguous}

/** Drop-in user-facing API mirroring the reference's surface
  * (reference pycart/cartogram.py:141 `Cartogram(gdf, value_field,
  * id_field, geometry_field)`), so a pycart user can switch by
  * swapping a GeoDataFrame for a DataFrame with a WKT geometry
  * column (e.g. from [[graft.sources.GeoJsonSource]]).
  *
  * {{{
  * val gdf  = GeoJsonSource.readFeatureCollection(spark, path)
  *   .select($"properties"("NAME").as("name"), $"geometry")
  *   .join(popCsv, "name")
  * val cart = Cartogram(gdf, valueField = "population", idField = "name")
  * val nonCon  = cart.nonContiguous(sizeValue = 1.0)
  * val dorling = cart.dorling(iterations = 100)
  * val borders = cart.borders()   // pycart border_util.get_borders
  * }}}
  */
case class Cartogram(gdf: DataFrame, valueField: String, idField: String,
                     geometryField: String = "geometry") {

  for (f <- Seq(valueField, idField, geometryField))
    require(gdf.columns.contains(f),
      s"Cartogram: column '$f' not found; frame has [${gdf.columns.mkString(", ")}]")

  /** The input's CRS tag re-attached to an output geometry column —
    * geopandas preserves crs through its ops (main.py:140 set_crs);
    * operators rebuild geometry columns, so the tag is re-applied. */
  private def keepCrs(out: DataFrame): DataFrame =
    graft.sources.GeoCrs.of(gdf, geometryField)
      .fold(out)(c => graft.sources.GeoCrs.tag(out, c))

  /** Non-contiguous cartogram (reference cartogram.py:172).
    * @return id, value, scale, geometry (scaled WKT) */
  def nonContiguous(sizeValue: Double = 1.0): DataFrame =
    keepCrs(NonContiguous.run(gdf, idField, valueField, geometryField, sizeValue))

  /** Dorling circle cartogram (reference cartogram.py:245; Jacobi
    * iteration — see [[graft.operators.Dorling]] for the deviation).
    * `stop` mirrors the reference's early-halt parameter. Up to
    * [[graft.operators.Borders.SmallN]] regions the whole call runs on
    * the driver from one collect; above it, distributed. Both paths
    * give bit-equal output.
    * @return id, value, radius, x, y, geometry (circle WKT) */
  def dorling(iterations: Int = 100, ratio: Double = 0.4,
              friction: Double = 0.5, stop: Option[Int] = None): DataFrame =
    keepCrs(Dorling.run(gdf, idField, valueField, geometryField,
      iterations = stop.map(math.min(_, iterations)).getOrElse(iterations),
      ratio = ratio, friction = friction))

  /** Queen-contiguity borders (reference border_util.py:5), paired on
    * the driver up to [[graft.operators.Borders.SmallN]] regions and
    * cell by cell on a distributed grid above; both run one pair rule,
    * so the rows are the same either way.
    * @return focal_id, neighbor_id, weight (shared boundary length) */
  def borders(): DataFrame = Borders.compute(gdf, idField, geometryField)
}
