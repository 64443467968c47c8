package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.{Dv, Snapshots}
import graft.streaming.{ChangeFeed, ChangeFeedOffset, ChangeFeedReaderFactory, ChangeFeedStream, ChangeFilePartition}

/** The change feed's partitions and reader — Spark's parquet reader
  * function over one whole file per partition: files that hold none of
  * the requested columns (one all-null row per stored row, whatever the
  * file's columns are), the per-position row pick under the
  * partition's deletion vectors, and planning that carries vector
  * descriptors without reading a sidecar. */
class ChangeFeedReaderSpec extends SparkSuite {

  /** `df` as one parquet file in a fresh table dir: (dir, rel path). */
  private def onePartFile(df: DataFrame, name: String): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_cfr_$name").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    dir -> new java.io.File(s"$dir/data").list()
      .filter(_.endsWith(".parquet")).map(n => s"data/$n").head
  }

  private def readAll(dir: String, part: ChangeFilePartition,
                      schema: StructType, emitMeta: Boolean = false): Seq[Seq[Any]] = {
    val meta = if (emitMeta) new StructType().add("_change", StringType)
      .add("_version", LongType) else new StructType()
    val out = StructType(schema.fields ++ meta.fields)
    val reader = ChangeFeedReaderFactory(spark, dir, schema, meta).createReader(part)
    try Iterator.continually(reader.next()).takeWhile(identity).map { _ =>
      val r = reader.get()
      out.fields.indices.map(i =>
        if (r.isNullAt(i)) null else r.get(i, out(i).dataType).toString)
    }.toList
    finally reader.close()
  }

  private def insertOf(rel: String) = ChangeFilePartition(rel, "insert", 1L, None)

  test("a file holding none of the requested columns yields one all-null " +
    "row per stored row, whatever its first column is") {
    val (dir, rel) = onePartFile(spark.range(0, 7, 1, 1).select(
      struct(col("id").as("a"), (col("id") * 2).as("b")).as("s"),
      col("id").as("n")), "struct_first")
    assert(readAll(dir, insertOf(rel), new StructType().add("missing", LongType)) ===
      Seq.fill(7)(Seq(null)))
  }

  test("a file whose only column is a struct reads 7 null rows for its 7 " +
    "stored rows") {
    val (dir, rel) = onePartFile(spark.range(0, 7, 1, 1).select(
      struct(col("id").as("a")).as("s")), "groups_only")
    assert(readAll(dir, insertOf(rel), new StructType().add("missing", LongType)) ===
      Seq.fill(7)(Seq(null)))
  }

  test("rows pick by file position: positions `liveUnder` records never " +
    "emit, and with `deadUnder` set only its positions do; CDC mode " +
    "appends the change tag and version") {
    val (dir, rel) = onePartFile(spark.range(0, 7, 1, 1).toDF("k"), "positions")
    val schema = new StructType().add("k", LongType)
    def keys(live: Array[Long], dead: Option[Array[Long]]) =
      readAll(dir, ChangeFilePartition(rel, "delete", 3L, Some(Dv.Inline(live)),
        dead.map(Dv.Inline(_))), schema).map(_.head)
    assert(keys(Array(1L, 3L), None) === Seq("0", "2", "4", "5", "6"))
    assert(keys(Array(1L, 3L), Some(Array(1L, 2L, 3L, 5L))) === Seq("2", "5"))
    assert(readAll(dir, ChangeFilePartition(rel, "delete", 3L, None,
        Some(Dv.Inline(Array(4L)))), schema, emitMeta = true) ===
      Seq(Seq("4", "delete", "3")))
  }

  test("planning a microbatch reads no sidecar: a grown file's partition " +
    "carries the sidecar descriptor, and the process holds no decoded " +
    "positions after planning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfr_plan").toString + "/tbl"
    def rows(n: Long) = spark.range(0, n, 1, 1).select(col("id").as("k"), lit(0L).as("bucket"))
    Snapshots.publish(rows(5000L), dir, "bucket", Seq("k"))
    val v2 = Snapshots.deleteVectored(rows(Dv.InlineMax + 10L), dir, "bucket", Seq("k"))
    Dv.forget(_ => true)
    val parts = new ChangeFeedStream(dir, 0L, 0L, 0L, ChangeFeed.feedSchema(spark, dir))
      .planInputPartitions(ChangeFeedOffset(0L), ChangeFeedOffset(v2))
      .map(_.asInstanceOf[ChangeFilePartition])
    assert(Dv.cachedPositions === 0L, "planning decoded a sidecar")
    val grown = parts.filter(_.version == v2).toSeq
    assert(grown.map(_.change) === Seq("delete"))
    assert(grown.head.liveUnder.isEmpty)
    assert(grown.head.deadUnder.exists {
      case Dv.Sidecar(n, _) => n == Dv.InlineMax + 10L
      case _ => false
    }, grown.head.deadUnder)
  }
}
