package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.ReusedSubqueryExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.SparkEntry
import graft.app.{ClusterConfig, GraftApp}
import graft.sources.{SnapshotLake, Snapshots}

/** Executor task-metric totals, accumulated by [[ProfListener]], so a
  * measured body's time can be attributed to CPU, GC, spill and shuffle
  * instead of guessed at (the x128 rung showed >3x growth on row-local
  * queries — "consistent with spill" needed to become a measurement). */
private[graft] final case class ProfSnap(runMs: Long, cpuNs: Long, gcMs: Long,
    memSpill: Long, diskSpill: Long, shufRead: Long, shufWrite: Long) {
  def +(o: ProfSnap): ProfSnap = ProfSnap(runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, memSpill + o.memSpill, diskSpill + o.diskSpill,
    shufRead + o.shufRead, shufWrite + o.shufWrite)
  /** The per-run mean of totals summed over `n` runs. */
  def /(n: Int): ProfSnap = ProfSnap(runMs / n, cpuNs / n, gcMs / n,
    memSpill / n, diskSpill / n, shufRead / n, shufWrite / n)
  /** The totals as JSON members (no braces). */
  def json: String =
    f""""run_s":${runMs / 1000.0}%.3f,"cpu_s":${cpuNs / 1e9}%.3f,""" +
      f""""gc_s":${gcMs / 1000.0}%.3f,""" +
      s""""spill_mem_bytes":$memSpill,"spill_disk_bytes":$diskSpill,""" +
      s""""shuffle_read_bytes":$shufRead,"shuffle_write_bytes":$shufWrite"""
}

private[graft] object ProfSnap {
  val Zero: ProfSnap = ProfSnap(0L, 0L, 0L, 0L, 0L, 0L, 0L)
  def of(m: TaskMetrics): ProfSnap = ProfSnap(m.executorRunTime,
    m.executorCpuTime, m.jvmGCTime, m.memoryBytesSpilled, m.diskBytesSpilled,
    m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
}

/** Executor totals over every completed stage of the context it listens
  * to, in all and per job description: a stage counts toward the
  * description of the first job that launched it. The description is a
  * thread-local property, so concurrent threads label their own jobs.
  * Skipped (reused) stages never complete and count nowhere, as no
  * executor time was spent on them. */
private[graft] final class ProfListener extends SparkListener {
  private var total = ProfSnap.Zero
  private val owner = scala.collection.mutable.Map.empty[Int, String]
  private val byDescription = scala.collection.mutable.Map.empty[String, ProfSnap]

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .foreach(d => synchronized(j.stageIds.foreach(owner.getOrElseUpdate(_, d))))

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = ProfSnap.of(sc.stageInfo.taskMetrics)
      total += m
      owner.get(sc.stageInfo.stageId).foreach(d =>
        byDescription(d) = byDescription.getOrElse(d, ProfSnap.Zero) + m)
    }

  /** The totals of the stages launched under `description` so far. */
  def of(description: String): ProfSnap =
    synchronized(byDescription.getOrElse(description, ProfSnap.Zero))

  /** Waits until the totals stop moving: stage-completion events arrive
    * on the asynchronous listener bus, so poll every 50 ms until two
    * reads agree, for at most 2 s. Call it once, after the last measured
    * body, before reading [[of]]. */
  def settle(): Unit = {
    var last = synchronized(total)
    var waited = 0
    var stable = false
    while (!stable && waited < 2000) {
      Thread.sleep(50); waited += 50
      val now = synchronized(total)
      stable = now == last
      last = now
    }
  }
}

private[graft] object ProfListener {
  private val attached = new java.util.WeakHashMap[SparkContext, ProfListener]()

  private val runs = new AtomicLong()

  /** A job-description prefix that no other measured run in this JVM
    * uses, so a run's totals never mix with an earlier run's. */
  def runLabel(kind: String): String = s"$kind ${runs.incrementAndGet()}"

  /** The context's one listener, added on first use. */
  def on(sc: SparkContext): ProfListener = attached.synchronized {
    attached.computeIfAbsent(sc, { c =>
      val l = new ProfListener
      c.addSparkListener(l)
      l
    })
  }
}

/** Jobs, stages and tasks of every job and stage that ended in the
  * context it is added to, and each ended job's interval, in the order
  * the jobs ended. */
private final class SchedulerCounts extends SparkListener {
  val jobs, stages, tasks = new AtomicLong()
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val ended = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(started.remove(e.jobId)).fold(e.time)(_.longValue)
    ended.synchronized(ended += start -> e.time)
    jobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(e.stageInfo.numTasks)
  }
  def snap(): (Long, Long, Long) = (jobs.get, stages.get, tasks.get)

  /** Seconds during which at least one of the jobs that ended `from`-th
    * to `until`-th was running: the union of their intervals, so time
    * that overlapping jobs share counts once. */
  def busySeconds(from: Long, until: Long): Double = {
    val intervals = ended.synchronized(ended.slice(from.toInt, until.toInt).toSeq).sorted
    val (busyMs, _) = intervals.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }
    busyMs / 1000.0
  }
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
  *  - `tick [n]` writes the snapshot lake of the sf dir once, as
  *    `GraftApp` does, then runs n (default 8) `runCluster` calls over it
  *    of one tick each, on c1 and c2 in turn, and prints one line per
  *    tick: its wall time, the SQL executions, physical-plan-description
  *    characters and SQL plan metrics it added to the SQL status store,
  *    its jobs, the seconds during which at least one of its jobs ran
  *    (`busy_s`, the union of their intervals: work removed from the
  *    tick lowers it, work that only overlaps other work does not), its
  *    stages and tasks, the Janino compiles it caused and the heap used
  *    after a GC once it ended.
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
    def go(rest: List[String]): Unit = rest match {
      case Nil =>
      case "tick" :: n :: more if n.nonEmpty && n.forall(_.isDigit) =>
        tickLines(s, dir, n.toInt)(emit); go(more)
      case "tick" :: more => tickLines(s, dir, DefaultTicks)(emit); go(more)
      case "warmup" :: more => emit(warmupLine(s, dir)); go(more)
      case name :: more => emit(queryLine(s, dir, name)); go(more)
    }
    go(args.toList)
  }

  private val DefaultTicks = 8

  /** The body's value and its wall time in seconds. */
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def queryLine(s: SparkSession, dir: String, name: String): String = {
    val query = SparkEntry.queries(name)
    def noop(): Unit =
      query(s, dir).write.format("noop").mode("overwrite").save()
    val listener = ProfListener.on(s.sparkContext)
    val label = ProfListener.runLabel(s"profile $name")
    val (_, cold) = timed(noop())
    s.sparkContext.setJobDescription(label)
    val (_, warm) = try timed(noop()) finally s.sparkContext.setJobDescription(null)
    listener.settle()
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
      s""""reused_nodes":$reused,"exchanges":$exchanges,${listener.of(label).json}}"""
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
      SnapshotLake.write(s, dir, lake.toString)
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
          s""""jobs":${after._1 - before._1},""" +
          f""""busy_s":${counts.busySeconds(before._1, after._1)}%.3f,""" +
          s""""stages":${after._2 - before._2},""" +
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
