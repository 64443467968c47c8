package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Plan hygiene helpers for iterative DataFrame loops and small-input
  * dispatch. */
object PlanUtil {

  /** Materialize a DataFrame and sever BOTH its lineage and its
    * inherited statistics.
    *
    * `localCheckpoint()` truncates lineage but PRESERVES the origin
    * plan's estimated statistics. In an iterative loop (connected-
    * components rounds, WordPiece merges) iteration k+1's join plan
    * multiplies iteration k's inherited sizeInBytes estimates, so the
    * estimate's BigInt WIDTH grows geometrically with the iteration
    * count and driver-side planning stalls inside BigInteger
    * arithmetic (observed: Toom-Cook multiplies on million-bit
    * integers by iteration ~30, hanging the 100-iteration default
    * entirely). Rewrapping the materialized RDD as a fresh scan
    * resets the estimate to the flat default each round, keeping
    * planning O(1) per iteration at any iteration count; the data is
    * computed exactly once either way.
    */
  def checkpointFlat(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** The rows of `df` when it has at most `n` of them (`n <= 0`: never).
    * Takes at most n + 1 rows, so a large input ships no more than that
    * to the driver; `n = Int.MaxValue` admits every input. Not
    * `limit(n + 1).count()`: Spark names each such limit's counter
    * uniquely in its generated code, so that plan compiles anew on
    * every call; `take` runs its limit outside generated code. */
  def collectIfSmall(df: DataFrame, n: Int): Option[Array[Row]] =
    if (n <= 0) None
    else if (n == Int.MaxValue) Some(df.collect())
    else Some(df.take(n + 1)).filter(_.length <= n)
}
