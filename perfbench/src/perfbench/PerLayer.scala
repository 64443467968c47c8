package perfbench

/** The per-layer metrics of the traced run. Every name is reported on
  * every workload; a layer the workload never calls reads 0. */
object PerLayer {

  /** Spans summed per traced pass, then the median over passes (s). */
  val spanSeconds = Seq(
    "sources.geojson", "sources.attrs", "geom.measures", "NonContiguous.run",
    "Borders.compute", "Dorling.small", "Dorling.large",
    "Snapshots.publish", "Snapshots.compact",
    "Dedup.pairs", "Dedup.components", "Dedup.keep_best")

  /** Median duration of one call (ms). */
  val callMs = Seq(
    "Snapshots.merge", "Snapshots.delete_dv", "Snapshots.read_head",
    "Snapshots.read_travel", "ChangeFeed.batch", "Snapshots.apply")

  /** Median of the samples the workloads record (name -> unit). */
  val sampled = Seq(
    "Borders.pairs" -> "count",
    "Dorling.large_setup_s" -> "s",
    "Dorling.large_iter_ms" -> "ms",
    "Snapshots.files_written" -> "count",
    "Snapshots.write_amp" -> "ratio",
    "Snapshots.pruned_files_ratio" -> "ratio",
    "Snapshots.head_files" -> "count",
    "Snapshots.dv_files" -> "count",
    "ChangeFeed.rows_read" -> "count",
    "ChangeFeed.rows_net" -> "count",
    "Dedup.pairs" -> "count",
    "Dedup.candidates" -> "count",
    "Dedup.verify_ratio" -> "ratio",
    "Dedup.components" -> "count")

  val spark = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.job_wall_s" -> "s", "spark.driver_self_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.codegen_compiles" -> "count")

  private def median(xs: Seq[Double]): Double = Main.median(xs).getOrElse(0.0)

  /** Length of the union of [a, b) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** @param passes traced passes that succeeded
    * @param lat    [[Latencies.of]] over the traced passes */
  def of(ctx: Ctx, spans: Seq[Span], listener: EngineListener,
         passes: Seq[Pass], cores: Int,
         lat: Map[String, Seq[Double]], overhead: Option[Double]): Map[String, (Option[Double], String)] = {
    val ids = passes.map(_.id).toSet + 0 // 0: the traced extras
    val mine = spans.filter(s => ids(s.pass))
    val samples = ctx.samples.synchronized(ctx.samples.toList).filter(s => ids(s._1))
    val out = Map.newBuilder[String, (Option[Double], String)]

    val engine = passes.map { p =>
      val ps = spans.filter(s => s.pass == p.id && s.name != Ctx.Untimed)
      val c = listener.countsFor(ps.map(_.id).toSet)
      val pass = ps.find(_.name == "pass").get
      val (a, b) = (pass.start / 1000000L, pass.end / 1000000L)
      val jobWall = covered(listener.jobIntervals(ps.map(_.id).toSet)
        .map { case (x, y) => (math.max(x, a), math.min(y, b)) }.filter(t => t._2 > t._1)) / 1e3
      val mb = 1048576.0
      Map(
        "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.shuffle_write_mb" -> c.shuffleWrite / mb, "spark.shuffle_read_mb" -> c.shuffleRead / mb,
        "spark.spill_mb" -> c.spill / mb, "spark.input_mb" -> c.input / mb,
        "spark.output_mb" -> c.output / mb,
        "spark.task_run_s" -> c.runMs / 1e3, "spark.task_cpu_s" -> c.cpuNs / 1e9,
        "spark.task_gc_s" -> c.gcMs / 1e3, "spark.job_wall_s" -> jobWall,
        "spark.driver_self_s" -> math.max(0.0, p.wall - jobWall),
        "spark.cpu_util" -> c.cpuNs / 1e9 / (p.wall * cores),
        "spark.codegen_compiles" -> p.codegen.toDouble)
    }
    spark.foreach { case (n, u) => out += n -> (Some(median(engine.map(_(n)))), u) }

    spanSeconds.foreach { n =>
      val perPass = passes.map(p => mine.filter(s => s.pass == p.id && s.name == n).map(_.seconds).sum)
      out += s"${n}_s" -> (Some(median(perPass)), "s")
    }
    callMs.foreach { n => out += s"${n}_ms" -> (Some(median(mine.filter(_.name == n).map(_.ms))), "ms") }
    sampled.foreach { case (n, u) => out += n -> (Some(median(samples.filter(_._2 == n).map(_._3))), u) }

    val read = samples.filter(_._2 == "ChangeFeed.rows_read").map(_._3).sum
    val net = samples.filter(_._2 == "ChangeFeed.rows_net").map(_._3).sum
    def latency(k: String, q: Double): Double =
      Main.percentile(lat.getOrElse(k, Nil), q).getOrElse(0.0)
    out += "ChangeFeed.net_ratio" -> (Some(if (read > 0) net / read else 0.0), "ratio")
    out += "Snapshots.commit_ms_p50" -> (Some(latency("commit_ms", 0.5)), "ms")
    out += "Snapshots.commit_ms_p90" -> (Some(latency("commit_ms", 0.9)), "ms")
    out += "Snapshots.read_ms_p50" -> (Some(latency("read_ms", 0.5)), "ms")
    out += "ChangeFeed.replica_lag_ms_p50" -> (Some(latency("replica_lag_ms", 0.5)), "ms")
    out += "jvm.gc_s" -> (Some(median(passes.map(_.gc))), "s")
    out += "jvm.jit_s" -> (Some(median(passes.map(_.jit))), "s")
    out += "bench.trace_overhead_pct" -> (overhead, "%")
    out.result()
  }
}
