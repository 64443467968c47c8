package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Cartogram
import graft.sources.{CsvAttrs, GeoJsonSource}

/** End-to-end demo of the cartogram pipeline on the reference's test
  * fixture (the pycart quickstart, Spark-native):
  * GeoJSON -> attribute join -> borders -> non-contiguous + Dorling.
  *
  * Run: sbt "runMain graft.tools.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // The pycart user journey, Spark-native: GeoJSON + population CSV
    // -> merged frame -> Cartogram facade
    // (data/Test/square_test.geojson + squares_pop.csv in the repo;
    // run from the repo root).
    val geo = GeoJsonSource.readFeatureCollection(
        spark, "data/Test/square_test.geojson")
      .select(col("properties")("name").as("name"), col("geometry"))
    val pop = CsvAttrs.read(spark, "data/Test/squares_pop.csv")
      .select(col("name"), CsvAttrs.cleanLong(col("Population")).as("population"))
    val squares = CsvAttrs.mergeAttrs(geo, "name", pop, "name")

    println("=== input ===")
    squares.orderBy("name").show(truncate = false)

    val cart = Cartogram(squares, valueField = "population", idField = "name")

    println("=== Queen borders (focal, neighbor, shared-border weight) ===")
    cart.borders().orderBy("focal_id", "neighbor_id").show(20, truncate = false)

    println("=== non-contiguous cartogram ===")
    cart.nonContiguous().select("id", "value", "scale")
      .orderBy("id").show(truncate = false)

    println("=== Dorling cartogram (20 iterations) ===")
    cart.dorling(iterations = 20)
      .select("id", "value", "radius", "x", "y").orderBy("id")
      .show(truncate = false)

    spark.stop()
  }
}
