package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

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

  /** Spark jobs `body` starts (counted by a listener on the job's
    * local property; a sentinel job marks that every earlier event
    * has been delivered). */
  def jobsOf(body: => Unit): Int = {
    val tag = "graft.test.jobguard"
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
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
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("sentinel"), "listener never saw the sentinel job")
      seen.asScala.count(_ == "body")
    } finally sc.removeSparkListener(listener)
  }
}
