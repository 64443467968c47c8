package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Generated inputs of one workload: where they live, a digest of their
  * bytes, and their sizes for the artifact. */
final case class Inputs(dir: String, digest: String, sizes: Map[String, Any])

/** One workload: seeded input generation, one measured pass, and the
  * extra calls the traced run makes to split setup from iteration cost.
  * A pass raises on the first failed operation; checks report through
  * [[Ctx.check]]. */
trait Workload {
  def name: String
  /** Write the inputs under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long): Inputs
  def pass(ctx: Ctx, in: Inputs): Unit
  def extras(ctx: Ctx, in: Inputs): Unit = ()
}

/** What a pass sees: the session, the stopwatch, and the accounting of
  * operations, checks and samples. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String) {
  @volatile var traced = false
  private val counts = new java.util.concurrent.atomic.AtomicLongArray(2)
  val failures = mutable.ArrayBuffer[String]()
  /** (pass, name, value) samples: latencies and per-layer counts */
  val samples = mutable.ArrayBuffer[(Int, String, Double)]()
  @volatile private var passFailed = false

  def attempted: Long = counts.get(0)
  def failed: Long = counts.get(1)
  /** wall and process-CPU nanoseconds of this pass spent in [[untimed]] */
  private val untimedNs = new java.util.concurrent.atomic.AtomicLongArray(2)

  def beginPass(): Unit = {
    passFailed = false
    untimedNs.set(0, 0L); untimedNs.set(1, 0L)
  }
  def passOk: Boolean = !passFailed
  def untimedWall: Double = untimedNs.get(0) / 1e9
  def untimedCpu: Double = untimedNs.get(1) / 1e9

  /** Work of the benchmark itself inside a pass (output checks, trace
    * samples, clean-up), left out of the pass's time. */
  def untimed[T](body: => T): T = {
    val (w0, c0) = (System.nanoTime(), Main.cpuNs())
    try tracer.span(Ctx.Untimed)(body)
    finally {
      untimedNs.addAndGet(0, System.nanoTime() - w0)
      untimedNs.addAndGet(1, Main.cpuNs() - c0)
    }
  }

  def fail(msg: String): Unit = {
    counts.incrementAndGet(1)
    passFailed = true
    failures.synchronized(failures += s"pass ${tracer.pass} $msg")
  }

  /** Run a pass; a failed operation or check, or any other error, fails it. */
  def runPass(body: => Unit): Unit =
    try body
    catch {
      case _: OpFailed =>
      case scala.util.control.NonFatal(t) => fail(s"pass aborted: ${t.getClass.getName}: ${t.getMessage}")
    }

  /** One call into the program, timed as a span and counted. */
  def op[T](name: String)(body: => T): T = {
    counts.incrementAndGet(0)
    try tracer.span(name)(body)
    catch {
      case t: Throwable =>
        fail(s"$name: ${t.getClass.getName}: ${
          Option(t.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}")
        throw new OpFailed(name, t)
    }
  }

  /** One output check; a false result fails the pass. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    counts.incrementAndGet(0)
    if (!ok) fail(s"check $name: $detail")
  }

  def sample(name: String, v: Double): Unit =
    samples.synchronized(samples += ((tracer.pass, name, v)))
}

object Ctx {
  /** span name of [[Ctx.untimed]] blocks; their jobs are not the program's */
  val Untimed = "bench.untimed"
}

/** One measured pass: wall and process-CPU seconds without the
  * benchmark's own checks, and what the JVM and Spark did meanwhile. */
final case class Pass(id: Int, traced: Boolean, wall: Double, cpu: Double, gc: Double,
                      jit: Double, codegen: Long, ok: Boolean, steal: Option[Double])

final class OpFailed(name: String, cause: Throwable)
  extends RuntimeException(s"$name failed", cause)

object Main {

  val workloads: Map[String, () => Workload] = Map(
    "cartogram" -> (() => new CartogramWorkload),
    "neardup_dedup" -> (() => new DedupWorkload),
    "table_churn" -> (() => new TableWorkload(live = false)),
    "cdc_live" -> (() => new TableWorkload(live = true)))

  /** Input generations per run; setup_s takes their median. */
  val SetupReps = 3

  /** `--workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`
    * runs one workload and writes its artifact; `--train W1,W2 --work DIR`
    * runs one short pass of each (the class-loading run behind the
    * build's class-data archive). */
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        opts.get("train") match {
          case Some(names) => train(names.split(",").toSeq, opts("work"))
          case None =>
            val result = run(workload(opts("workload")), opts("seed").toLong, opts("seconds").toDouble,
              opts("trace") == "1", opts("work"))
            Files.write(Paths.get(opts("out")), Json.write(result).getBytes("UTF-8"))
        }
        0
      } catch {
        case t: Throwable => t.printStackTrace(); 1
      }
    System.exit(code)
  }

  def workload(name: String): Workload =
    workloads.getOrElse(name, sys.error(s"unknown workload $name"))()

  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else {
      val s = xs.sorted
      val n = s.length
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None else {
      val s = xs.sorted
      Some(s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1))))
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** JIT compilation time so far (ms), over all compiler threads. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Java sources Spark's code generator has compiled so far in this JVM
    * (driver and, in local mode, the executors). */
  private def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative (steal, total) CPU ticks of the machine, where the kernel
    * reports them. Steal is time the hypervisor ran other guests on this
    * machine's CPUs: it stretches a pass's wall time without raising its
    * CPU time, so the artifact records it beside every pass. */
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (t(7), t.sum)
    } finally src.close()
  }.toOption

  private def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)

  /** Heap in use right after a full collection, in MB (taken after every
    * measured pass). Spark's context cleaner frees unreferenced cached
    * blocks asynchronously after the first collection, so collect again
    * once it has had time to run. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A local session on every core; the first job is part of its start. */
  def session(name: String, cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  /** One pass of each workload in one session: loads the classes the
    * runs need, for the build's class-data archive. */
  def train(names: Seq[String], work: String): Unit = {
    val spark = session("train", Runtime.getRuntime.availableProcessors, work)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext), work)
    names.foreach { n =>
      val w = workload(n)
      ctx.runPass(w.pass(ctx, w.generate(spark, s"$work/$n", 0L)))
    }
    spark.stop()
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
          work: String): Map[String, Any] = {
    val (load0, ticks0) = (loadAvg(), cpuTicks())
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(w.name, cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work)
    var heapPeak = 0.0

    // Set-up: generate (and write) the inputs, repeated so setup_s can
    // take the median; then warm the code paths with one unmeasured pass.
    // The last repetition's inputs are measured.
    val genTimes = mutable.ArrayBuffer[Double]()
    val digests = mutable.ArrayBuffer[String]()
    var inputs: Inputs = null
    tracer.pass = -1
    for (rep <- 1 to SetupReps) {
      val s0 = System.nanoTime()
      inputs = w.generate(spark, s"$work/inputs-$rep", seed)
      genTimes += (System.nanoTime() - s0) / 1e9
      digests += inputs.digest
    }
    ctx.check("setup.deterministic_inputs", digests.distinct.size == 1,
      s"input digests differ across set-up repetitions: ${digests.mkString(",")}")
    val w0 = System.nanoTime()
    ctx.beginPass()
    ctx.runPass(w.pass(ctx, inputs))
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx.check("setup.warm_pass", ctx.passOk, "warm-up pass failed")
    val setupS = sessionS + median(genTimes.toSeq).get + warmS

    val listener = new EngineListener
    val passes = mutable.ArrayBuffer[Pass]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    // The traced run alternates untraced and traced passes, at least
    // three, so the tracing overhead is measured against passes on
    // either side of a traced one, inside one run.
    while (p < (if (traced) 3 else 1) || System.nanoTime() < deadline) {
      p += 1
      val tracedPass = traced && p % 2 == 0
      if (tracedPass) spark.sparkContext.addSparkListener(listener)
      ctx.traced = tracedPass
      tracer.pass = p
      ctx.beginPass()
      val (c0, g0, j0, n0, k0) = (cpuNs(), gcMs(), jitMs(), codegenCompiles(), cpuTicks())
      val w0 = System.nanoTime()
      ctx.runPass(tracer.span("pass")(w.pass(ctx, inputs)))
      val wall = (System.nanoTime() - w0) / 1e9 - ctx.untimedWall
      val cpu = (cpuNs() - c0) / 1e9 - ctx.untimedCpu
      val gc = (gcMs() - g0) / 1e3
      if (tracedPass) {
        listener.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      passes += Pass(p, tracedPass, wall, cpu, gc, (jitMs() - j0) / 1e3, codegenCompiles() - n0,
        ctx.passOk, stealShare(k0, cpuTicks()))
      heapPeak = math.max(heapPeak, heapAfterGcMb())
    }
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      ctx.traced = true
      tracer.pass = 0
      ctx.beginPass()
      ctx.runPass(tracer.span("extras")(w.extras(ctx, inputs)))
      listener.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val (load1, ticks1) = (loadAvg(), cpuTicks())

    val okPasses = passes.filter(p => p.ok && !p.traced).toSeq
    val endToEnd: Map[String, (Option[Double], String)] = Map(
      "setup_s" -> (Some(setupS), "s"),
      "run_s" -> (median(okPasses.map(_.wall)), "s"),
      "heap_peak_mb" -> (Some(heapPeak), "MB"))

    val spans = tracer.all
    val tracedIds = passes.filter(_.traced).map(_.id).toSet + 0
    val latencies = Latencies.of(ctx, spans, passes.filter(_.ok).map(_.id).toSet)
    val perLayer: Map[String, (Option[Double], String)] =
      if (!traced) Map.empty
      else {
        val tp = passes.filter(p => p.traced && p.ok).toSeq
        val untracedRun = median(okPasses.map(_.wall))
        val tracedRun = median(tp.map(_.wall))
        val overhead = for (a <- tracedRun; b <- untracedRun) yield (a / b - 1) * 100
        PerLayer.of(ctx, spans, listener, tp, cores,
          Latencies.of(ctx, spans, tracedIds), overhead)
      }

    val shown = if (traced) perLayer else endToEnd
    val summary = Map(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> shown.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.to(collection.immutable.ListMap))

    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).toMap
    val result = Map(
      "workload" -> w.name,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> traced,
      "summary" -> summary,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "latencies" -> Latencies.stats(latencies),
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genTimes.toSeq, "warm_pass_s" -> warmS),
      "inputs" -> Map("digest" -> inputs.digest, "sizes" -> inputs.sizes),
      "env" -> Map(
        "nproc" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "load_avg_start" -> load0,
        "load_avg_end" -> load1,
        "cpu_steal_share" -> stealShare(ticks0, ticks1),
        "spark_conf" -> conf),
      "passes" -> passes.map(p => Map("id" -> p.id, "traced" -> p.traced, "wall_s" -> p.wall,
        "cpu_s" -> p.cpu, "gc_s" -> p.gc, "jit_s" -> p.jit, "codegen_compiles" -> p.codegen,
        "ok" -> p.ok, "cpu_steal_share" -> p.steal)),
      "failures" -> ctx.failures.synchronized(ctx.failures.toList),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "pass" -> s.pass, "start_ns" -> s.start, "end_ns" -> s.end)))
    spark.stop()
    result
  }
}

/** The table workloads' user-facing latencies, from spans and samples. */
object Latencies {
  /** commit, read and replica-lag samples (ms) of the given passes */
  def of(ctx: Ctx, spans: Seq[Span], passIds: Set[Int]): Map[String, Seq[Double]] = {
    def ms(names: String*) = spans.filter(s => passIds(s.pass) && names.contains(s.name)).map(_.ms)
    Map(
      "commit_ms" -> ms("Snapshots.merge", "Snapshots.delete_dv"),
      "read_ms" -> ms("Snapshots.read_head", "Snapshots.read_travel"),
      "replica_lag_ms" -> ctx.samples.synchronized(ctx.samples.toList)
        .collect { case (p, "replica_lag_ms", v) if passIds(p) => v })
  }

  def stats(l: Map[String, Seq[Double]]): Map[String, Any] = l.filter(_._2.nonEmpty).map { case (k, xs) =>
    k -> Map("n" -> xs.size, "p50" -> Main.percentile(xs, 0.5), "p90" -> Main.percentile(xs, 0.9))
  }
}
