package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.operators.Snapshots

/** Seeded property over the manifest path's one file-skip rule: on a
  * table with long, double, string, timestamp and decimal stats columns
  * (five files, multi-row-group so `#stat3` lines record), random `[lo, hi)`
  * bounds — empty and inverted windows, bounds equal to a file's min
  * or max, non-integral doubles on integral columns, integral bounds
  * on the double column — never change an answer: the range and box
  * scans equal the plain filter, and the pruning decisions keep every
  * file that holds a matching row. A failing draw prints its bounds. */
class StatsPruneSpec extends SparkSuite {

  private val base = 1600000000000000L // timestamp micros

  private lazy val (dir, v, rows) = {
    val d = java.nio.file.Files.createTempDirectory("graft_prune_prop")
    d.toFile.deleteOnExit()
    val dir = d.toString + "/tbl"
    val src = spark.range(0, 4000, 1, 2).select(
        col("id").as("key"),
        ((col("id") % 500) / 7.0 - 30.0).as("score"),
        concat(lit("n"), lpad(pmod(col("id") * 7919L, lit(4000L))
          .cast("string"), 4, "0")).as("name"),
        timestamp_micros(col("id") * 1000000L + base).as("ts"),
        ((col("id") % 1000) / 10).cast("decimal(12,2)").as("amt"))
      .withColumn("bucket", expr("key div 1000"))
    val cols = Seq("key", "score", "name", "ts", "amt")
    Snapshots.publish(src, dir, "bucket", Seq("key"),
      blockSize = 16L * 1024, numTasks = 1, statsCols = cols)
    // one more file overlapping bucket 0's keys with a disjoint score range
    val v = Snapshots.append(src.filter(col("key") % 97 === 0)
      .withColumn("score", col("score") + 1000.0), dir, "bucket", Seq("key"))
    val rows = Snapshots.files(spark, dir, v).flatMap { rel =>
      spark.read.parquet(s"$dir/$rel")
        .select(col("key"), col("score"), col("name"), unix_micros(col("ts")),
          col("amt"))
        .collect().map(r => (rel, Map[String, Any]("key" -> r.getLong(0),
          "score" -> r.getDouble(1), "name" -> r.getString(2),
          "ts" -> r.getLong(3), "amt" -> r.getDecimal(4))))
    }
    (dir, v, rows)
  }

  /** The plain-filter column a bound compares against (timestamps as
    * micros, the prunedScanAtBy typing). */
  private def colOf(c: String): Column =
    if (c == "ts") unix_micros(col(c)) else col(c)

  /** The plain filter's order: strings by code point (ASCII here, so
    * UTF-8 byte order), numbers as Spark compares mixed long/double. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (s: String, t: String) => s.compareTo(t)
    case (p: Long, q: Long) => java.lang.Long.compare(p, q)
    case (p: Number, q: Number) =>
      java.lang.Double.compare(p.doubleValue, q.doubleValue)
    case _ => sys.error(s"incomparable $a, $b")
  }

  private def inRange(x: Any, lo: Any, hi: Any): Boolean =
    cmp(x, lo) >= 0 && cmp(x, hi) < 0

  private type Pred = (String, Any, Any)

  /** One bound for column `c`: a recorded file or row-group min or
    * max (on the integral columns also that edge plus a half), a value
    * inside or around the data, or the other numeric family. The
    * decimal column records no stats, so its bounds are drawn from the
    * value range alone. */
  private def bound(c: String, edges: Seq[Any]): Gen[Any] = {
    lazy val edge = Gen.oneOf(edges)
    lazy val halfPast = edge.map(e => e.asInstanceOf[Long] + 0.5)
    c match {
      case "key" => Gen.frequency(
        3 -> edge, 3 -> halfPast, 2 -> Gen.choose(-10L, 4010L),
        2 -> Gen.choose(-10L, 4010L).map(_ + 0.5))
      case "score" => Gen.frequency(
        3 -> edge, 3 -> Gen.choose(-40.0, 1050.0),
        2 -> Gen.choose(-40L, 1050L))
      case "amt" => Gen.frequency(
        3 -> Gen.choose(-5L, 105L), 3 -> Gen.choose(-5.0, 105.0),
        2 -> Gen.choose(-5L, 105L).map(_ + 0.5))
      case "name" => Gen.frequency(
        3 -> edge, 3 -> Gen.choose(0, 4100).map(i => f"n$i%04d"),
        1 -> Gen.oneOf("", "n", "n1", "n35", "o", "zz"))
      case _ => Gen.frequency(
        3 -> edge, 3 -> halfPast,
        3 -> Gen.choose(-10L, 4010L).map(_ * 1000000L + base))
    }
  }

  /** A `[lo, hi)` window, inverted (so empty) one time in five. */
  private def predGen(edges: Map[String, Seq[Any]]): Gen[Pred] = for {
    c <- Gen.oneOf(edges.keys.toSeq.sorted)
    a <- bound(c, edges(c))
    b <- bound(c, edges(c))
    inverted <- Gen.prob(0.2)
  } yield if (inverted == (cmp(a, b) <= 0)) (c, b, a) else (c, a, b)

  test("range and box scans equal the plain filter, and the pruning " +
    "decisions keep every file holding a match, over seeded random bounds") {
    val m = Snapshots.manifest(spark, dir, v)
    assert(m.metaValues("stat3").nonEmpty, "multi-row-group files record #stat3")
    val edges = Seq("key", "score", "name", "ts", "amt").map { c =>
      val recorded = m.stats2(c).values.map { case (_, k, mn, mx) => (k, mn, mx) } ++
        m.stats3(c).values.flatten.map(g => (g.kind, g.min, g.max))
      c -> recorded.toSeq.flatMap { case (kind, mn, mx) =>
        Seq(mn, mx).map(e => kind match {
          case "i" => e.toLong
          case "d" => e.toDouble
          case _ => new String(java.util.Base64.getDecoder.decode(e), "UTF-8")
        })
      }.distinct
    }.toMap
    val draws = Gen.zip(predGen(edges), Gen.option(predGen(edges)))
    val prop = Prop.forAllNoShrink(draws) { case (p, q) =>
      val box: Seq[Pred] = p +: q.toSeq
      val matching = rows.filter { case (_, r) =>
        box.forall { case (c, lo, hi) => inRange(r(c), lo, hi) }
      }
      val holding = matching.map(_._1).toSet
      val want = matching.map(_._2("key").asInstanceOf[Long]).sorted
      def keys(df: DataFrame): Seq[Long] =
        df.select("key").collect().map(_.getLong(0)).toSeq.sorted
      val (scan, files) = box match {
        case Seq((c, lo, hi)) =>
          (Snapshots.prunedScanAtBy(spark, dir, v, c, lo, hi),
            Snapshots.prunedFilesBy(spark, dir, v, c, lo, hi))
        case _ =>
          (Snapshots.prunedScanAtBox(spark, dir, v, box),
            Snapshots.prunedFilesBox(spark, dir, v, box))
      }
      val filtered = Snapshots.readAt(spark, dir, v).filter(box.map {
        case (c, lo, hi) => colOf(c) >= lit(lo) && colOf(c) < lit(hi)
      }.reduce(_ && _))
      val rgFiles = Snapshots.prunedFilesBoxRg(spark, dir, v, box)
      Prop.all(
        (keys(scan) == want) :| "pruned scan == brute-force filter",
        (keys(filtered) == want) :| "readAt(v).filter == brute-force filter",
        holding.subsetOf(files.toSet) :| "file decision keeps every holder",
        holding.subsetOf(rgFiles.toSet) :| "row-group decision keeps every holder"
      ) :| s"box $box"
    }
    val res = Test.check(Test.Parameters.default
      .withInitialSeed(Seed(20261019L)).withMinSuccessfulTests(40)
      .withWorkers(1), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("decimal columns record no #stat2/#stat3 lines (parquet keeps them " +
    "unscaled), and range scans on them equal the plain filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_dec").toString + "/tbl"
    val src = spark.range(0, 600, 1, 1).select(
        col("id").as("key"),
        (col("id") / 4).cast("decimal(12,2)").as("d12"),
        (col("id") / 4).cast("decimal(30,2)").as("d30"))
      .withColumn("bucket", expr("key div 200"))
    val v = Snapshots.publish(src, dir, "bucket", Seq("key"),
      blockSize = 4L * 1024, numTasks = 1, statsCols = Seq("key", "d12", "d30"))
    val m = Snapshots.manifest(spark, dir, v)
    assert(m.stats2("key").nonEmpty, "the long column still records its stats")
    for (c <- Seq("d12", "d30")) {
      assert(m.stats2(c).isEmpty && m.stats3(c).isEmpty, s"$c recorded stats")
      assert(Snapshots.versionStatsFor(spark, dir, v, c).isEmpty,
        s"$c: the footer fallback records stats")
      for ((lo, hi) <- Seq((10L, 20L), (0.5, 7.25), (BigDecimal("149.75"), 1000L), (50L, 40L))) {
        def keys(df: DataFrame) = df.select("key").collect().map(_.getLong(0)).sorted.toSeq
        val want = keys(Snapshots.readAt(spark, dir, v)
          .filter(col(c) >= lit(lo) && col(c) < lit(hi)))
        assert(keys(Snapshots.prunedScanAtBy(spark, dir, v, c, lo, hi)) === want, s"$c [$lo, $hi)")
      }
    }
  }
}
