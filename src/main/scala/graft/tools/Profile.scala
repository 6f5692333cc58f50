package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.ReusedSubqueryExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.SparkEntry
import graft.app.{ClusterConfig, GraftApp}
import graft.sources.{SnapshotLake, Snapshots}

/** Per-stage task-metric totals, accumulated by [[ProfListener]] and
  * diffed around a measured body, so its time can be attributed to GC,
  * spill and shuffle instead of guessed at (the x128 rung showed >3x
  * growth on row-local queries — "consistent with spill" needed to
  * become a measurement). */
private[graft] final case class ProfSnap(runMs: Long, gcMs: Long,
    memSpill: Long, diskSpill: Long, shufRead: Long, shufWrite: Long) {
  def -(o: ProfSnap): ProfSnap = ProfSnap(runMs - o.runMs, gcMs - o.gcMs,
    memSpill - o.memSpill, diskSpill - o.diskSpill,
    shufRead - o.shufRead, shufWrite - o.shufWrite)
  def fmt: String =
    f"run=${runMs / 1000.0}%.1fs gc=${gcMs / 1000.0}%.1fs " +
      f"spillMem=${memSpill / 1e9}%.2fGB spillDisk=${diskSpill / 1e9}%.2fGB " +
      f"shufR=${shufRead / 1e9}%.2fGB shufW=${shufWrite / 1e9}%.2fGB"
  /** The totals as JSON members (no braces). */
  def json: String =
    f""""run_s":${runMs / 1000.0}%.3f,"gc_s":${gcMs / 1000.0}%.3f,""" +
      s""""spill_mem_bytes":$memSpill,"spill_disk_bytes":$diskSpill,""" +
      s""""shuffle_read_bytes":$shufRead,"shuffle_write_bytes":$shufWrite"""
}

/** Executor run, GC, spill and shuffle totals over every completed stage
  * of the context it is added to. */
private[graft] final class ProfListener extends SparkListener {
  @volatile private var runMs = 0L
  @volatile private var gcMs = 0L
  @volatile private var memSpill = 0L
  @volatile private var diskSpill = 0L
  @volatile private var shufRead = 0L
  @volatile private var shufWrite = 0L
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = sc.stageInfo.taskMetrics
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      shufRead += m.shuffleReadMetrics.totalBytesRead
      shufWrite += m.shuffleWriteMetrics.bytesWritten
    }
  def snap(): ProfSnap = synchronized(
    ProfSnap(runMs, gcMs, memSpill, diskSpill, shufRead, shufWrite))

  /** The totals once they stop moving: stage-completion events arrive on
    * the asynchronous listener bus, so poll every 50 ms until two reads
    * agree, for at most 2 s. */
  def settled(): ProfSnap = {
    var last = snap()
    var waited = 0
    while (waited < 2000) {
      Thread.sleep(50); waited += 50
      val now = snap()
      if (now == last) return now
      last = now
    }
    last
  }
}

/** Jobs, stages and tasks of every job and stage that ended in the
  * context it is added to. */
private final class SchedulerCounts extends SparkListener {
  val jobs, stages, tasks = new AtomicLong()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(e.stageInfo.numTasks)
  }
  def snap(): (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
}

/** The per-query profile of the declared query surface, one JSON line per
  * argument:
  *  - a query name prints its cold and warm noop-sink wall time (the
  *    first and second run in the session; the cold one includes the
  *    shared derivations it builds), the reused-node and exchange counts
  *    of its final adaptive plan (runtime stage reuse does not show in a
  *    pre-execution explain), and the executor run, GC, spill and
  *    shuffle totals of the warm run;
  *  - `warmup` releases the derivations built so far, runs the warmup
  *    and prints its makespan, the pool size and each derivation's wall,
  *    executor CPU and executor run seconds in report order;
  *  - `tick [n]` writes the snapshot lake of the sf dir, as `GraftApp
  *    --lake` does, then runs n (default 8) lake-mode `runCluster` calls
  *    of one tick each, on c1 and c2 in turn, and prints one line per
  *    tick: its wall time, the SQL executions, physical-plan-description
  *    characters and SQL plan metrics it added to the SQL status store,
  *    its jobs, stages and tasks, the Janino compiles it caused and the
  *    heap used after a GC once it ended.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile <query...|warmup|tick [n]>"
  */
object Profile extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // JIT and executor start-up, outside every measurement
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    try run(spark, dir, args.toSeq)(println) finally spark.stop()
  }

  /** Profiles each argument in turn and hands its line to `emit`. */
  def run(s: SparkSession, dir: String, args: Seq[String])(emit: String => Unit): Unit = {
    val listener = new ProfListener
    s.sparkContext.addSparkListener(listener)
    def go(rest: List[String]): Unit = rest match {
      case Nil =>
      case "tick" :: n :: more if n.nonEmpty && n.forall(_.isDigit) =>
        tickLines(s, dir, n.toInt)(emit); go(more)
      case "tick" :: more => tickLines(s, dir, DefaultTicks)(emit); go(more)
      case "warmup" :: more => emit(warmupLine(s, dir)); go(more)
      case name :: more => emit(queryLine(s, dir, name, listener)); go(more)
    }
    try go(args.toList) finally s.sparkContext.removeSparkListener(listener)
  }

  private val DefaultTicks = 8

  /** The body's value and its wall time in seconds. */
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def queryLine(s: SparkSession, dir: String, name: String,
                        listener: ProfListener): String = {
    val query = SparkEntry.queries(name)
    def noop(): Unit =
      query(s, dir).write.format("noop").mode("overwrite").save()
    val (_, cold) = timed(noop())
    val before = listener.settled()
    val (_, warm) = timed(noop())
    val delta = listener.settled() - before
    // a write plans its own QueryExecution; run the query's own one so its
    // executed plan is the final adaptive plan
    val df = query(s, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan
    val reused = collectWithSubqueries(plan) {
      case r: ReusedExchangeExec => r
      case r: ReusedSubqueryExec => r
    }.size
    val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
    f"""{"name":"$name","cold_s":$cold%.3f,"warm_s":$warm%.3f,""" +
      s""""reused_nodes":$reused,"exchanges":$exchanges,${delta.json}}"""
  }

  private def tickLines(s: SparkSession, dir: String, n: Int)(emit: String => Unit): Unit = {
    import java.nio.file.{Files, Path}
    val lake = Files.createTempDirectory("graft-profile-lake")
    val out = Files.createTempDirectory("graft-profile-out")
    val counts = new SchedulerCounts
    s.sparkContext.addSparkListener(counts)
    val store = s.asInstanceOf[classic.SparkSession].sharedState.statusStore
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the status store and the counts once the listener bus has delivered
    // every event of the executions since `after`: each of them has ended
    // and two reads 50 ms apart agree, for at most 2 s
    def settled(after: Long) = {
      def read() = (store.executionsList().filter(_.executionId > after), counts.snap())
      var last = read()
      var waited = 0
      var done = false
      while (!done && waited < 2000) {
        Thread.sleep(50); waited += 50
        val now = read()
        done = now._2 == last._2 && now._1.map(_.executionId) == last._1.map(_.executionId) &&
          now._1.forall(_.completionTime.isDefined)
        last = now
      }
      last
    }
    try {
      SnapshotLake.writeWatermarks(Snapshots.watermarks(s, dir), s"$lake/watermarks")
      SnapshotLake.writeGroupOffsets(Snapshots.groupOffsets(s, dir), s"$lake/group_offsets")
      (1 to n).foreach { i =>
        val cluster = Snapshots.Clusters((i - 1) % Snapshots.Clusters.size)
        val lastId = (-1L +: store.executionsList().map(_.executionId)).max
        val (_, before) = settled(lastId)
        val compiled = compiles
        val (_, wall) = timed(GraftApp.runCluster(s, ClusterConfig(cluster), dir,
          out.toString, ticks = 1, lakeDir = Some(lake.toString)))
        val (added, after) = settled(lastId)
        val compiledNow = compiles
        emit(f"""{"name":"tick","tick":$i,"cluster":"$cluster","wall_s":$wall%.3f,""" +
          s""""executions":${added.size},""" +
          s""""plan_chars":${added.map(_.physicalPlanDescription.length.toLong).sum},""" +
          s""""sql_metrics":${added.map(_.metrics.size).sum},""" +
          s""""jobs":${after._1 - before._1},"stages":${after._2 - before._2},""" +
          s""""tasks":${after._3 - before._3},"codegen_compiles":${compiledNow - compiled},""" +
          f""""heap_mb":${heapAfterGcMb()}%.1f}""")
      }
    } finally {
      s.sparkContext.removeSparkListener(counts)
      Seq(lake, out).foreach { d =>
        val paths = Files.walk(d)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally paths.close()
      }
    }
  }

  /** Heap used after a GC, in MB, once two GCs 100 ms apart read within 1%. */
  private def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var now = used()
    var tries = 0
    while (math.abs(now - last) > 0.01 * last && tries < 8) { last = now; now = used(); tries += 1 }
    now
  }

  private def warmupLine(s: SparkSession, dir: String): String = {
    SparkEntry.invalidate(s, dir)
    val (profile, makespan) = timed(SparkEntry.warmupProfile(s, dir))
    val cpuOf = profile.cpu.toMap
    val runOf = profile.run.toMap
    val parts = profile.wall.map { case (n, wall) =>
      f"""{"name":"$n","wall_s":$wall%.3f,"cpu_s":${cpuOf(n)}%.3f,"run_s":${runOf(n)}%.3f}"""
    }
    f"""{"name":"warmup","makespan_s":$makespan%.3f,""" +
      s""""threads":${SparkEntry.warmupThreads(s)},""" +
      s""""derivations":${parts.mkString("[", ",", "]")}}"""
  }
}
