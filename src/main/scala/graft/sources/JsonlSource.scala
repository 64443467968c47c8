package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Newline-delimited JSON document corpus source — the de facto LLM
  * training-data interchange shape (one `{"id":…,"text":…,…}` object
  * per line; what The Pile / RedPajama / Dolma-class corpora ship).
  *
  * Design rules for the 100 TB path:
  *  - The schema is REQUIRED, never inferred: Spark's JSON inference
  *    is a full extra pass over the input before the real read — at
  *    corpus scale that silently doubles the job. Callers state the
  *    contract; the reader enforces it.
  *  - PERMISSIVE + corrupt-record ACCOUNTING, not FAILFAST (one bad
  *    line kills a week-long job) and not DROPMALFORMED (silent data
  *    loss): malformed lines surface in `_corrupt_record`, and
  *    [[stats]] reports exact good/corrupt counts so a pipeline can
  *    gate on a corruption budget instead of guessing.
  *  - JSONL is line-splittable, so one huge file fans out across
  *    executors — but NOT through gzip (a .json.gz is one stream =
  *    one task). Shard the files or use a splittable codec; the
  *    writer emits one file per partition for exactly this reason.
  */
object JsonlSource {

  val CorruptCol = "_corrupt_record"

  /** Read a JSONL corpus under an explicit contract. The result
    * carries `_corrupt_record` (null for good rows); compose with
    * [[docs]] / [[corrupt]] / [[stats]]. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not declare $CorruptCol — the reader adds it")
    val withCorrupt = StructType(schema.fields :+
      StructField(CorruptCol, StringType, nullable = true))
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)
  }

  /** The well-formed rows, contract columns only. */
  def docs(raw: DataFrame): DataFrame =
    raw.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** The malformed source lines, verbatim — quarantine material.
    * Spark refuses corrupt-only projections on a raw JSON scan (the
    * raw line isn't in the parsed columns), so the filter reads
    * through a lazy local checkpoint of the full parse — not
    * `cache()`, which would stay registered in the session's
    * CacheManager for as long as the returned frame may be read. */
  def corrupt(raw: DataFrame): DataFrame =
    raw.localCheckpoint(eager = false)
      .filter(col(CorruptCol).isNotNull).select(CorruptCol)

  /** Exact accounting in ONE pass: (good rows, corrupt lines) — the
    * corruption-budget gate a production ingest runs per shard.
    * (cache() first: Spark disallows corrupt-column-only projections
    * over a raw JSON scan — the pruned scan would re-parse and could
    * disagree with itself — and the documented escape is reading
    * through the cache. The cache is released once the counts are
    * collected, unless the caller had cached `raw` already.) */
  def stats(raw: DataFrame): (Long, Long) = {
    val owned = raw.storageLevel == StorageLevel.NONE
    val r = try raw.cache().agg(
      sum(when(col(CorruptCol).isNull, 1L).otherwise(0L)),
      sum(when(col(CorruptCol).isNotNull, 1L).otherwise(0L))).collect()(0)
    finally if (owned) raw.unpersist(false)
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Write a corpus as JSONL — one file per partition (keeps every
    * shard independently line-splittable; no driver collect). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
