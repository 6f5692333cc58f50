package perfbench

/** The per-layer metrics of a traced run. `Gated` are the ones
  * BENCHMARK.json declares: every traced run of `service_tick` and
  * `stream_offsets` prints exactly these (a layer the workload does not
  * exercise reads 0). `SurfaceOnly` read 0 on both of those workloads, so
  * only `query_surface` prints them, together with its `query.*`,
  * `warmup.*` and `family.*` figures. Unless noted, counts, bytes and
  * seconds are per measured op (tick, query or batch). */
object Layers {
  private def moduleLayers(ms: Seq[String]): Seq[(String, String)] =
    ms.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_s" -> "s"))

  val Gated: Seq[(String, String)] =
    Seq("catalyst.actions" -> "count", "catalyst.analysis_s" -> "s",
      "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
      "codegen.compile_s" -> "s",
      "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
      "scheduler.tasks" -> "count", "scheduler.job_wall_s" -> "s",
      "scheduler.idle_core_share" -> "share",
      "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
      "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
      "driver.result_bytes" -> "bytes", "storage.cache_mem_bytes" -> "bytes") ++
    moduleLayers(Seq("app", "sources", "report", "metrics", "streaming")) ++
    Seq("stream.ingest_s" -> "s", "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s",
      "stream.query_planning_s" -> "s", "stream.wal_commit_s" -> "s",
      "stream.commit_offsets_s" -> "s", "stream.state_rows" -> "count",
      "stream.state_rows_removed" -> "count", "stream.state_mem_bytes" -> "bytes",
      "stream.state_commit_s" -> "s", "stream.sink_rows" -> "count",
      "stream.rows_per_s" -> "rows/s",
      "setup.session_s" -> "s", "setup.first_s" -> "s", "setup.warm_ops_s" -> "s",
      "traced.op_p50_s" -> "s", "traced.setup_s" -> "s")

  val SurfaceOnly: Seq[(String, String)] =
    Seq("spill.mem_bytes" -> "bytes", "spill.disk_bytes" -> "bytes",
      "storage.cache_disk_bytes" -> "bytes") ++
    moduleLayers(Seq("operators", "functions", "SparkEntry", "query.exec", "other"))

  private val All = Gated ++ SurfaceOnly
  private val ModuleNames = Tracer.Modules ++ Seq("query.exec", "other")

  /** The layers a traced run of `workload` prints. */
  def printed(workload: String, layer: Seq[(String, (Double, String))]): Seq[(String, (Double, String))] =
    if (workload == "query_surface") layer
    else {
      val gated = Gated.map(_._1).toSet
      layer.filter { case (n, _) => gated(n) }
    }

  /** Turns the tracer's window counters into per-op metrics, adds the
    * storage and set-up figures, and fills every unset layer with 0. */
  def fill(ctx: Ctx, t: Tracer): Unit = {
    val ops = math.max(1, ctx.attempted).toDouble
    def perOp(counter: String, scale: Double = 1.0): Double = t.count(counter) * scale / ops
    val units = All.toMap
    def set(name: String, v: Double): Unit = ctx.setLayer(name, v, units(name))

    set("catalyst.actions", perOp("catalyst.actions"))
    set("catalyst.analysis_s", perOp("catalyst.analysis_ms", 1e-3))
    set("catalyst.optimization_s", perOp("catalyst.optimization_ms", 1e-3))
    set("catalyst.planning_s", perOp("catalyst.planning_ms", 1e-3))
    set("codegen.compile_s", perOp("codegen.compile_ns", 1e-9))
    set("scheduler.jobs", perOp("scheduler.jobs"))
    set("scheduler.stages", perOp("scheduler.stages"))
    set("scheduler.tasks", perOp("scheduler.tasks"))
    set("scheduler.job_wall_s", perOp("scheduler.job_wall_us", 1e-6))
    val wall = ctx.timed.map(_._2).sum
    val runSeconds = t.count("executor.run_ms") / 1e3
    set("scheduler.idle_core_share",
      if (wall > 0) 1.0 - runSeconds / (wall * ctx.cores) else 0.0)
    set("executor.run_s", perOp("executor.run_ms", 1e-3))
    set("executor.cpu_s", perOp("executor.cpu_ns", 1e-9))
    set("executor.gc_s", perOp("executor.gc_ms", 1e-3))
    Seq("shuffle.read_bytes", "shuffle.write_bytes", "spill.mem_bytes", "spill.disk_bytes",
      "driver.result_bytes").foreach(n => set(n, perOp(n)))
    val storage = ctx.spark.sparkContext.getRDDStorageInfo
    set("storage.cache_mem_bytes", storage.map(_.memSize).sum.toDouble)
    set("storage.cache_disk_bytes", storage.map(_.diskSize).sum.toDouble)
    ModuleNames.foreach { m =>
      set(s"$m.jobs", perOp(s"$m.jobs"))
      set(s"$m.job_s", perOp(s"$m.job_us", 1e-6))
    }
    set("stream.trigger_s", perOp("stream.trigger_ms", 1e-3))
    set("stream.add_batch_s", perOp("stream.add_batch_ms", 1e-3))
    set("stream.query_planning_s", perOp("stream.query_planning_ms", 1e-3))
    set("stream.wal_commit_s", perOp("stream.wal_commit_ms", 1e-3))
    set("stream.commit_offsets_s", perOp("stream.commit_offsets_ms", 1e-3))
    set("stream.state_rows", t.gauge("stream.state_rows"))
    set("stream.state_rows_removed", perOp("stream.state_rows_removed"))
    set("stream.state_mem_bytes", t.gauge("stream.state_mem_bytes"))
    set("stream.state_commit_s", perOp("stream.state_commit_ms", 1e-3))
    set("setup.session_s", ctx.sessionSeconds)
    set("setup.first_s", ctx.setUps.headOption.getOrElse(0.0))
    set("setup.warm_ops_s", ctx.warm.sum)
    val lat = ctx.timed.map(_._2).toSeq
    set("traced.op_p50_s", Stats.percentile(lat, 50))
    set("traced.setup_s", Main.setupSeconds(ctx))
    All.foreach { case (n, u) => if (!ctx.layer.contains(n)) ctx.setLayer(n, 0.0, u) }
  }
}
