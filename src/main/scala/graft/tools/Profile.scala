package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ReusedSubqueryExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.SparkEntry

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
  *    executor CPU and executor run seconds in report order.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile <query...|warmup>"
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
    try args.foreach {
      case "warmup" => emit(warmupLine(s, dir))
      case name => emit(queryLine(s, dir, name, listener))
    } finally s.sparkContext.removeSparkListener(listener)
  }

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
