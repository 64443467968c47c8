package graft

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Plan hygiene helpers for iterative DataFrame loops, small-input
  * dispatch and keyed RDD passes. */
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

  /** `pairs` grouped by key in one shuffle into `parts` partitions.
    * Not groupByKey or cogroup: their reduce side inserts into a map
    * whose size Spark keeps estimating by walking the grouped values,
    * which costs more per task than the work done per group. */
  def grouped[K: ClassTag, V: ClassTag](pairs: RDD[(K, V)], parts: Int): RDD[(K, Iterable[V])] =
    pairs.partitionBy(new HashPartitioner(parts))
      .mapPartitions(_.toSeq.groupMap(_._1)(_._2).iterator, preservesPartitioning = true)

  /** The partition count for [[grouped]] on `rdd`'s records: one per
    * core, or the input's count when larger. RDD shuffles get no
    * adaptive coalescing, so Spark SQL's shuffle setting (200 by
    * default) would launch as many tasks per pass. */
  def partitionsFor(rdd: RDD[_]): Int = math.max(rdd.sparkContext.defaultParallelism, rdd.getNumPartitions)
}
