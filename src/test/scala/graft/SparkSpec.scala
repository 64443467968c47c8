package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked tests). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf0001

  /** Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Int = stagesPerJob(body).length

  /** The stage count of each Spark job `body` starts, in start order
    * (seen by a listener on the job's local property; a sentinel job
    * marks that every earlier event has been delivered). */
  def stagesPerJob(body: => Unit): Seq[Int] = {
    val tag = "graft.test.jobguard"
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tag))).foreach(t => seen.add(t -> js.stageInfos.length))
    }
    def tagged(value: String)(f: => Unit): Unit = {
      sc.setLocalProperty(tag, value)
      try f finally sc.setLocalProperty(tag, null)
    }
    sc.addSparkListener(listener)
    try {
      tagged("body")(body)
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def sentinel = seen.asScala.exists(_._1 == "sentinel")
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel, "listener never saw the sentinel job")
      seen.asScala.collect { case ("body", stages) => stages }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Classes Spark's code generator compiled (code-cache misses) in `body`. */
  def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }
}
