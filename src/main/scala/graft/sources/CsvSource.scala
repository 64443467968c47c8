package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV tabular source with the [[JsonlSource]] ingest discipline —
  * the attribute-table interchange the reference consumes via
  * pandas `read_csv` (reference main.py:96; CsvAttrs carries the
  * cartogram-facing contract, this is the general corpus-scale
  * reader beside it).
  *
  * Same design rules as JSONL, for the same 100 TB reasons:
  *  - schema REQUIRED, never inferred (CSV inference is a full extra
  *    pass AND type-guesses per shard — two ways to lose);
  *  - PERMISSIVE + corrupt-record accounting, not FAILFAST (one bad
  *    row kills the job) and not DROPMALFORMED (silent loss): a row
  *    whose parse fails lands verbatim in `_corrupt_record` and
  *    [[stats]] gives the exact good/corrupt budget;
  *  - `multiLine` stays OFF: quoted embedded newlines make the file
  *    NON-SPLITTABLE (one task per file); corpora that need them
  *    should ship JSONL instead — stated contract, not a default.
  */
object CsvSource {

  val CorruptCol = "_corrupt_record"

  /** Read CSV under an explicit contract (header expected and
    * validated against the schema by position). */
  def read(spark: SparkSession, path: String, schema: StructType,
           delimiter: String = ","): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not declare $CorruptCol — the reader adds it")
    val withCorrupt = StructType(schema.fields :+
      StructField(CorruptCol, StringType, nullable = true))
    spark.read
      .schema(withCorrupt)
      .option("header", "true")
      .option("sep", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)
  }

  /** The well-formed rows, contract columns only. */
  def docs(raw: DataFrame): DataFrame =
    raw.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** Exact (good, corrupt) accounting in one cached pass — the
    * [[JsonlSource.stats]] contract and body (the corrupt column has
    * the same name and the same corrupt-only-projection rule). */
  def stats(raw: DataFrame): (Long, Long) = JsonlSource.stats(raw)

  /** Write as headered CSV, one file per partition (splittable
    * shards, no driver collect). */
  def write(df: DataFrame, path: String, delimiter: String = ","): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("sep", delimiter)
      .csv(path)
}
