package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import graft.streaming.RowArrayReadSupport

/** The change feed's parquet-mr decoder on files that hold none of the
  * requested columns: one null-filled row per stored row, paced by a
  * primitive file column whatever the file's first column is. */
class RowArrayReadSupportSpec extends SparkSuite {

  private def onePartFile(df: org.apache.spark.sql.DataFrame, name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_rars_$name").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
  }

  private def readAll(path: String, names: Array[String],
                      types: Array[DataType]): Seq[Seq[Any]] = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new RowArrayReadSupport(names, types, names.length, path),
        new org.apache.hadoop.fs.Path(path))
      .build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(_.toSeq).toList
    finally reader.close()
  }

  test("a file whose first column is a struct paces null-filled rows by " +
    "its first primitive column when no requested column is stored") {
    val path = onePartFile(spark.range(0, 7, 1, 1).select(
      struct(col("id").as("a"), (col("id") * 2).as("b")).as("s"),
      col("id").as("n")), "struct_first")
    val rows = readAll(path, Array("missing"), Array(LongType))
    assert(rows === Seq.fill(7)(Seq(null)))
  }

  test("a file with no primitive top-level column refuses with its path") {
    val path = onePartFile(spark.range(0, 3, 1, 1).select(
      struct(col("id").as("a")).as("s")), "groups_only")
    val e = intercept[UnsupportedOperationException](
      readAll(path, Array("missing"), Array(LongType)))
    assert(e.getMessage.contains(path), e.getMessage)
  }
}
