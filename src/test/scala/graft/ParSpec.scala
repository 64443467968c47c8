package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The driver-side fan-out: result order, inline small calls, failure
  * propagation (own exception, sibling interrupt, Spark job cancel),
  * nesting, local-property inheritance, daemon workers that never
  * outlive the call, and the guard that keeps it the only pool. */
class ParSpec extends SparkSuite {

  private def waitUntil(what: String, secs: Int = 20)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + secs * 1000000000L
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  test("results come back in thunk order; 0 or 1 thunks run inline") {
    val n = 40
    val out = Par.all(spark, "order")((0 until n).map { i =>
      () => { Thread.sleep((n - i) % 7); i * 3 }
    })
    assert(out === (0 until n).map(_ * 3))
    assert(Par.all[Int](spark, "none")(Nil) === Nil)
    val caller = Thread.currentThread()
    assert(Par.all(spark, "one")(Seq(() => Thread.currentThread())) === Seq(caller))
  }

  test("a failing thunk's own exception surfaces without waiting for a " +
    "sibling blocked on a latch") {
    val release = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    // ignores interrupts: only the latch (or a 30 s safety cap) ends it
    def blocked(): Int = {
      val deadline = System.nanoTime() + 30000000000L
      while (release.getCount > 0 && System.nanoTime() < deadline)
        try release.await(50, TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => () }
      siblingDone.set(true)
      0
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.all(spark, "fail")(Seq(
        () => blocked(),
        () => { Thread.sleep(100); throw new IllegalStateException("thunk 1 broke") }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "thunk 1 broke")
    assert(!siblingDone.get, "returned only after the sibling finished")
    assert(secs < 10, s"took $secs s")
    release.countDown()
    waitUntil("sibling exit")(siblingDone.get)
  }

  test("the first failure cancels a sibling's running Spark job; jobs " +
    "carry the label#index description and the call's tag") {
    import spark.implicits._
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = starts.add(js)
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[UnsupportedOperationException] {
        Par.all(spark, "cancel")(Seq(
          // ~100 s uncancelled; each row polls the kill flag
          () => spark.range(0, 400, 1, 4).map { x =>
            var i = 0
            while (i < 100 && !TaskContext.get().isInterrupted()) {
              Thread.sleep(10); i += 1
            }
            x: Long
          }.count(),
          () => {
            waitUntil("the sibling's job")(sc.statusTracker.getActiveJobIds().nonEmpty)
            throw new UnsupportedOperationException("stop")
          }))
      }
      assert(e.getMessage === "stop")
      waitUntil("cancellation", 10)(sc.statusTracker.getActiveJobIds().isEmpty)
      waitUntil("job start event")(!starts.isEmpty)
      val props = starts.asScala.head.properties
      assert(props.getProperty("spark.job.description") === "cancel#0")
      assert(props.getProperty("spark.job.tags").split(",")
        .exists(_.startsWith("graft-par-")))
    } finally sc.removeSparkListener(listener)
  }

  test("a Par.all nested inside a thunk completes") {
    val out = Par.all(spark, "outer")((0 until 4).map { i =>
      () => Par.all(spark, "inner")((0 until 3).map { j =>
        () => spark.range(0, 10 * i + j + 1).count()
      }).sum
    })
    assert(out === (0 until 4).map(i => (0 until 3).map(j => 10L * i + j + 1).sum))
  }

  test("a local property the caller sets is visible in every thunk") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.par.test", "caller-value")
    try {
      val seen = Par.all(spark, "props")((0 until 20).map { _ =>
        () => sc.getLocalProperty("graft.par.test")
      })
      assert(seen === Seq.fill(20)("caller-value"))
    } finally sc.setLocalProperty("graft.par.test", null)
  }

  test("every worker is a daemon thread and none outlives the call") {
    val threads = Par.all(spark, "daemons")((0 until 8).map { _ =>
      () => { Thread.sleep(20); Thread.currentThread() }
    }).distinct
    assert(threads.nonEmpty && !threads.contains(Thread.currentThread()))
    assert(threads.forall(_.isDaemon))
    threads.foreach(_.join(5000))
    assert(threads.forall(!_.isAlive))
  }

  test("no hand-rolled thread pool outside graft/Par.scala") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing")
    val par = root.resolve("graft/Par.scala")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.contains(par))
    val hits = sources.filter(_ != par).flatMap { f =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
        .zipWithIndex.collect {
          case (line, n) if line.contains("newFixedThreadPool") ||
              line.contains("ExecutionException") => s"$f:${n + 1}"
        }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
