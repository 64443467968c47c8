package graft

import org.apache.spark.sql.functions._

/** Source/sink format breadth: the engine's frames round-trip through
  * the columnar formats Spark ships (parquet is the native test data;
  * ORC here; CSV/JSON/text covered by CsvAttrs/GeoJsonSource specs). */
class FormatsSpec extends SparkSuite {

  test("ORC round trip preserves schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = Tables.nation(spark, sf)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === src.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("ORC: predicate pushdown reaches the scan; nulls and complex types " +
    "(decimal/timestamp/array/map/struct) survive the round trip — the " +
    "q163 surfaces") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc_pd").toString
    val src = spark.range(0, 1000, 1, 4).select(
      col("id"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id") * 3).as("opt"),
      col("id").cast("decimal(18,2)").as("dec"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      array(col("id"), col("id") * 2).as("arr"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("a"), (col("id") % 7).as("b")).as("rec"))
    src.write.mode("overwrite").orc(dir)
    val filtered = spark.read.orc(dir).filter(col("id") >= 990)
    val plan = filtered.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(id,990)"),
      s"ORC scan must carry the pushed predicate:\n$plan")
    val rows = filtered.orderBy("id").collect()
    assert(rows.length === 10)
    val r = rows.head // id = 990
    assert(r.isNullAt(1), "null survives (990 % 10 == 0)")
    assert(r.getDecimal(2) === new java.math.BigDecimal("990.00"))
    assert(r.getTimestamp(3).getTime === 990L * 1000) // 990 s in millis
    assert(r.getSeq[Long](4) === Seq(990L, 1980L))
    assert(r.getMap[String, Long](5) === Map("k" -> 990L))
    assert(r.getStruct(6).getLong(0) === 990L)
    assert(r.getStruct(6).getLong(1) === 990L % 7)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.customer(spark, sf)
      .write.mode("overwrite").partitionBy("c_mktsegment").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("c_mktsegment") === "BUILDING")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || one.count() > 0)
    val expected = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(one.count() === expected)
  }

  test("JsonlSource: documents round-trip; corrupt lines are counted " +
    "and quarantined, never dropped silently") {
    import graft.sources.JsonlSource
    val src = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    JsonlSource.write(src, dir)
    val back = JsonlSource.read(spark, dir, org.apache.spark.sql.types.StructType(
      src.schema.fields.map(_.copy(nullable = true))))
    val (good, bad) = JsonlSource.stats(back)
    assert(good === src.count() && bad === 0L)
    assert(JsonlSource.docs(back).orderBy("doc_id")
      .collect().toSeq.map(_.toSeq) ===
      src.orderBy("doc_id").collect().toSeq.map(_.toSeq))
    // plant corrupt lines among the good ones
    val dir2 = java.nio.file.Files.createTempDirectory("graft_jsonl2").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "part-0.json"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "ok", "lang": "en"}""",
        """{"doc_id": 2, "text": "truncated""",
        """not json at all""",
        """{"doc_id": 3, "text": "fine", "lang": "de"}"""))
    val mixed = JsonlSource.read(spark, dir2, org.apache.spark.sql.types.StructType(
      src.schema.fields.map(_.copy(nullable = true))))
    val (g2, b2) = JsonlSource.stats(mixed)
    assert(g2 === 2L && b2 === 2L)
    assert(JsonlSource.docs(mixed).orderBy("doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the corrupt lines come back VERBATIM for quarantine
    val q = JsonlSource.corrupt(mixed).collect().map(_.getString(0)).toSet
    assert(q === Set("""{"doc_id": 2, "text": "truncated""", "not json at all"))
    // the reader refuses a schema that collides with its own column
    intercept[IllegalArgumentException] {
      JsonlSource.read(spark, dir2, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType, true))))
    }
  }

  test("CsvSource: tabular round-trip; malformed rows counted and kept, " +
    "never dropped silently") {
    import graft.sources.CsvSource
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_mktsegment")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    CsvSource.write(src, dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType, true),
      StructField("c_name", StringType, true),
      StructField("c_mktsegment", StringType, true)))
    val back = CsvSource.read(spark, dir, schema)
    val (good, bad) = CsvSource.stats(back)
    assert(good === src.count() && bad === 0L)
    assert(CsvSource.docs(back).orderBy("c_custkey")
      .collect().toSeq.map(_.toSeq) ===
      src.orderBy("c_custkey").collect().toSeq.map(_.toSeq))
    // plant malformed rows: a non-numeric key among good lines
    val dir2 = java.nio.file.Files.createTempDirectory("graft_csv2").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "part-0.csv"),
      java.util.Arrays.asList(
        "c_custkey,c_name,c_mktsegment",
        "1,alice,BUILDING",
        "not-a-number,bob,MACHINERY",
        "3,carol,AUTOMOBILE"))
    val mixed = CsvSource.read(spark, dir2, schema)
    val (g2, b2) = CsvSource.stats(mixed)
    assert(g2 === 2L && b2 === 1L)
    assert(CsvSource.docs(mixed).orderBy("c_custkey")
      .select("c_custkey").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the reader refuses a schema that collides with its own column
    intercept[IllegalArgumentException] {
      CsvSource.read(spark, dir2, StructType(Seq(
        StructField("_corrupt_record", StringType, true))))
    }
  }

  test("JsonlSource stats/corrupt and CsvSource stats leave nothing " +
    "registered in the session's CacheManager, with the same counts") {
    import graft.sources.{CsvSource, JsonlSource}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val jdir = java.nio.file.Files.createTempDirectory("graft_jsonl_cm").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(jdir, "part-0.json"),
      java.util.Arrays.asList(
        """{"id": 1, "text": "ok"}""", """{"id": 2, "text": "cut""",
        """nope""", """{"id": 3, "text": "fine"}"""))
    val json = JsonlSource.read(spark, jdir, StructType(Seq(
      StructField("id", LongType, true), StructField("text", StringType, true))))
    assert(JsonlSource.stats(json) === ((2L, 2L)))
    assert(cacheManager.isEmpty, "JsonlSource.stats left a cached plan behind")
    assert(JsonlSource.corrupt(json).collect().map(_.getString(0)).toSet ===
      Set("""{"id": 2, "text": "cut""", "nope"))
    assert(cacheManager.isEmpty, "JsonlSource.corrupt left a cached plan behind")
    val cdir = java.nio.file.Files.createTempDirectory("graft_csv_cm").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(cdir, "part-0.csv"),
      java.util.Arrays.asList("id,text", "1,a", "x,b", "3,c"))
    val csv = CsvSource.read(spark, cdir, StructType(Seq(
      StructField("id", LongType, true), StructField("text", StringType, true))))
    assert(CsvSource.stats(csv) === ((2L, 1L)))
    assert(cacheManager.isEmpty, "CsvSource.stats left a cached plan behind")
    // a frame the caller cached stays cached
    val kept = json.cache()
    try {
      assert(JsonlSource.stats(kept) === ((2L, 2L)))
      assert(kept.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally kept.unpersist()
  }
}
