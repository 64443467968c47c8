package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

import graft.operators.Snapshots

/** The rename-carry regression check the layout specs share: after a
  * payload rename, a further write must leave every row's renamed
  * value readable and the head manifest must still declare the
  * rename (`#colmap`). A write that dropped the line, or staged under
  * the logical name, reads the renamed column as NULL. */
object RenameCarry {

  /** Run every named case and fail once, listing each failing case —
    * a case does not hide the ones after it. */
  def all(cases: Seq[(String, () => Unit)]): Unit = {
    val failed = cases.flatMap { case (what, run) =>
      scala.util.Try(run()).failed.toOption.map(e => s"$what: ${e.getMessage}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  /** `head` (the layout's read of the table head) maps every key of
    * `expected` to its value in `renamed`, holds no other key, and the
    * head manifest of `dir` carries its `#colmap` line. */
  def check(spark: SparkSession, dir: String, head: DataFrame, key: String,
            renamed: String, expected: Map[String, Long], what: String): Unit = {
    val got = head.select(col(key).cast("string"), col(renamed))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getAs[Number](1).longValue)))
      .toMap
    val nulls = got.count(_._2.isEmpty)
    assert(nulls === 0, s"$what: $nulls rows read $renamed as NULL")
    assert(got.map { case (k, v) => k -> v.get } === expected,
      s"$what: the head does not equal the expected rows")
    val head0 = Snapshots.latest(spark, dir).get
    assert(Snapshots.manifest(spark, dir, head0).metaValues("colmap").nonEmpty,
      s"$what: version $head0 lost its #colmap line")
  }
}
