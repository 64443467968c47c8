package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, ThreadFactory}

import org.apache.spark.sql.SparkSession

/** The one driver-side fan-out: independent thunks (version-pinned
  * folds, fixture publishes, footer opens, per-dimension cut
  * derivations) submitted concurrently so each one's Spark jobs
  * back-fill the executors instead of serializing small-job
  * scheduling overhead. */
object Par {
  /** Thread cap per call — footer walks over many files stay bounded. */
  private val MaxThreads = 16

  /** Run `thunks` concurrently and return their results in thunk
    * order; 0 or 1 thunks run inline on the caller.
    *
    * Every call owns its pool of `min(n, 16)` daemon threads, created
    * from the calling thread so they inherit its Spark local
    * properties, and always shut down. A shared bounded pool would
    * deadlock: a thunk may itself call `all` (a fold reaching
    * staging's footer walk). Each worker tags its jobs with the
    * call's job tag and describes them as `label#i`. The first failure
    * interrupts the siblings, cancels their Spark jobs through the
    * tag, and rethrows the failing thunk's own exception without
    * waiting for the siblings to finish. */
  def all[T](spark: SparkSession, label: String)(thunks: Seq[() => T]): Seq[T] =
    if (thunks.size <= 1) thunks.map(_())
    else {
      val sc = spark.sparkContext
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      val daemons: ThreadFactory = { r =>
        val t = new Thread(r, s"graft-par-$label")
        t.setDaemon(true)
        t
      }
      val pool = Executors.newFixedThreadPool(
        math.min(MaxThreads, thunks.size), daemons)
      val done = new ExecutorCompletionService[T](pool)
      try {
        val futures = thunks.zipWithIndex.map { case (f, i) =>
          done.submit { () =>
            sc.addJobTag(tag)
            sc.setJobDescription(s"$label#$i")
            f()
          }
        }
        thunks.foreach(_ => done.take().get())
        futures.map(_.get())
      } catch {
        case t: Throwable =>
          pool.shutdownNow()
          sc.cancelJobsWithTag(tag)
          throw (t match {
            case e: ExecutionException => e.getCause
            case _ => t
          })
      } finally pool.shutdown()
    }
}
