package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line on stdout.
  *
  * Protocol: SPARK_GRAFT_RUNS (default 3) FULL ROUNDS over the whole
  * query set, reported three ways — per-query min across rounds (the
  * headline `queries` map and `value` total), per-round totals with
  * per-query times (`runs`), and the system load average at start and
  * end (`load_avg`); per query, the max GC wall across rounds
  * (`gc_ms_max`) and the generated classes Spark compiled in the last
  * round (`codegen_last`). Whole rounds rather than back-to-back repeats,
  * so one noisy-neighbor contention window poisons at most one
  * round's totals and stays VISIBLE in `runs` instead of silently
  * inflating the headline: this host has measured 43 s and 129 s
  * totals for the identical binary (BENCH.md), and the r4 artifact's
  * 140 s headline was exactly such a window. That full-detail JSON
  * is written to SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL.json);
  * stdout's final line is the compact [[stdoutLine]], which fits a
  * 2000-byte tail. Timed region and min-across-rounds unchanged by
  * the output format.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    // Warm the JVM (codegen, parquet reader, shuffle paths) so the
    // first timed query is not charged for JIT startup.
    SparkEntry.entry(spark).count()
    val names = SparkEntry.queries.keys.toSeq.sorted
    // the GC probe behind the r12 q105 adjudication: per query, the
    // JVM-wide GC wall accumulated DURING it (sum over collectors) —
    // a context-effect regression (allocation-heavy neighbor, heap
    // pressure) shows up as gc-time growth on an identical-code entry,
    // so the argument is MEASURED instead of inferred from wall clocks
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val gcPer = new scala.collection.mutable.HashMap[String, Long]()
    // per query, the generated classes Spark compiled (code-cache
    // misses) during it, overwritten each round: a warm query whose
    // plan bakes per-call literals into its code still compiles here
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val codegenLast = new scala.collection.mutable.HashMap[String, Long]()
    // a failed query must be visible, not report a plausible time
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val g0 = gcMillis
      val c0 = compiles
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // per-query MAX across rounds: the pressure signature, not
        // the typical cost (mirrors how the wall headline takes min)
        gcPer(name) = math.max(gcPer.getOrElse(name, 0L), gcMillis - g0)
        dt
      }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1.0
      }
      finally codegenLast(name) = compiles - c0
    }
    val runs: Seq[Map[String, Double]] =
      (1 to nRuns).map(_ => names.map(n => n -> timeOne(n)).toMap)
    val loadEnd = loadAvg
    val minPer: Map[String, Double] = names.map { n =>
      val ts = runs.map(_(n))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap
    def qJson(m: Map[String, Double]): String =
      names.map(n => s"\"" + n + "\":" + m(n)).mkString("{", ",", "}")
    val runsJson = runs.map { r =>
      val tot = if (r.values.exists(_ < 0)) -1.0 else r.values.sum
      s"""{"total":$tot,"queries":${qJson(r)}}"""
    }.mkString("[", ",", "]")
    // a failed query must invalidate the headline, not silently
    // shrink it by its -1.0 sentinel (the per-round total convention)
    val total = if (minPer.values.exists(_ < 0)) -1.0 else minPer.values.sum
    def perQuery(m: collection.Map[String, Long]): String =
      names.map(n => s"\"" + n + "\":" + m.getOrElse(n, 0L)).mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(minPer)},""" +
        s""""names_sha":"${namesSha(names)}",""" +
        s""""runs":$runsJson,"gc_ms_max":${perQuery(gcPer)},""" +
        s""""codegen_last":${perQuery(codegenLast)},"n_runs":$nRuns,""" +
        s""""load_avg":[$loadStart,$loadEnd],"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: ${e.getMessage}") }
    println(stdoutLine(names, minPer, nRuns, sfDir))
    spark.stop()
  }

  /** A query at or past this many milliseconds prints as this value
    * in the stdout line (the artifact keeps the exact seconds); it
    * bounds every array entry to 7 digits. */
  val MsCap = 9999999L

  /** Short hash of the sorted query-name list: identifies which name
    * each `q_ms` position stands for (the artifact carries it too). */
  def namesSha(sortedNames: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sortedNames.mkString("\n").getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString

  /** The final stdout JSON line, sized for a consumer that keeps only
    * a 2000-byte stdout tail: total seconds, the query count, a short
    * hash of the sorted names, the `sf` directory's name, and the
    * min-per-query times as an integer-ms ARRAY in sorted-name order
    * (-1 = failed; capped at [[MsCap]]). `value` is the sum of the
    * printed ms, or -1 when any query failed. The named map, every
    * round, `gc_ms_max` and `codegen_last` stay in the artifact file
    * only. */
  def stdoutLine(sortedNames: Seq[String], minPer: Map[String, Double],
                 nRuns: Int, sfDir: String): String = {
    val ms = sortedNames.map { n =>
      val v = minPer(n)
      if (v < 0) -1L else math.min(math.round(v * 1000), MsCap)
    }
    val total =
      if (ms.exists(_ < 0)) "-1.0"
      else "%.3f".formatLocal(java.util.Locale.ROOT, ms.sum / 1000.0)
    val sf = new java.io.File(sfDir).getName
      .filter(c => c < 128 && (c.isLetterOrDigit || "._-".contains(c))).take(32)
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${sortedNames.size},"n_runs":$nRuns,""" +
      s""""names_sha":"${namesSha(sortedNames)}","sf":"$sf",""" +
      s""""q_ms":${ms.mkString("[", ",", "]")}}"""
  }
}
