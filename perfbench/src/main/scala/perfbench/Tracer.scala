package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a job's call site to the program module whose source file made
  * the call: the first frame, from the innermost out, that is a file of
  * the program (under `programRoot`) or of the benchmark (`benchFiles`,
  * counted as `query.exec`). Files of modules outside [[Tracer.Modules]]
  * count as `other`. */
final class SourceModules(programRoot: java.io.File, benchFiles: Set[String]) {
  private val byFile: Map[String, String] = {
    val base = programRoot.toPath
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val parts = base.relativize(p).iterator().asScala.map(_.toString).toSeq
      val module = if (parts.size == 1) parts.head.stripSuffix(".scala") else parts.head
      p.getFileName.toString -> (if (Tracer.Modules.contains(module)) module else "other")
    }.toMap finally walk.close()
  } ++ benchFiles.map(_ -> "query.exec")
  private val Frame = """([A-Za-z0-9_$]+\.scala):\d+""".r

  def moduleOf(callSite: String): String =
    Option(callSite).iterator.flatMap(Frame.findAllMatchIn(_))
      .flatMap(m => byFile.get(m.group(1))).nextOption().getOrElse("other")
}

/** Spans and per-layer counters for the traced run, collected only through
  * public hooks: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (SQL actions and `qe.tracker` phases) and a
  * StreamingQueryListener (micro-batch progress). Spans stay in memory
  * and are written once at the end; an op's span closes only after the
  * listener events it caused have drained. Counters accumulate only while
  * a measured window is open. */
final class Tracer(spark: SparkSession, modules: SourceModules) {
  import Tracer._

  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val events = new AtomicLong(0)
  @volatile private var recording = false
  @volatile private var currentOp: (String, Long) = ("setup", 0L)

  private val jobs = TrieMap.empty[Int, (Double, String, String, String)]
  /** SQL execution id -> its call site (long form, then short form). */
  private val sqlSites = TrieMap.empty[Long, String]
  private val counters = TrieMap.empty[String, LongAdder]
  private val gauges = TrieMap.empty[String, Double]
  private var codegenAtOpen = 0L

  private def add(name: String, v: Long): Unit =
    if (recording) counters.getOrElseUpdate(name, new LongAdder).add(v)
  def count(name: String): Long = counters.get(name).map(_.sum()).getOrElse(0L)
  def gauge(name: String): Double = gauges.getOrElse(name, 0.0)

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("setup")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      // SQL jobs often run on AQE or broadcast threads, so their own call
      // site is not the caller's: take the SQL execution's. Other jobs
      // name their result stage after their call site.
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSites.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId).name)
      // a streaming query's micro-batch jobs run the plan the program's
      // streaming module built, whoever started the query
      val module =
        if (Option(e.properties).exists(_.getProperty(StreamQueryKey) != null)) "streaming"
        else modules.moduleOf(site)
      jobs.put(e.jobId, (e.time.toDouble, opOf(e.properties), module, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.remove(e.jobId).foreach { case (start, op, module, site) =>
        val ms = e.time - start
        spans.add(Span(ids.incrementAndGet(), s"job.$module", start, e.time.toDouble,
          parentOf(op), op, Map("job_id" -> e.jobId, "call_site" -> site)))
        add("scheduler.jobs", 1)
        add("scheduler.job_wall_us", (ms * 1000).toLong)
        add(s"$module.jobs", 1)
        add(s"$module.job_us", (ms * 1000).toLong)
      }
      events.incrementAndGet()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId, s.details + "\n" + s.description)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      add("scheduler.stages", 1)
      add("scheduler.tasks", si.numTasks)
      if (m != null) {
        add("executor.run_ms", m.executorRunTime)
        add("executor.cpu_ns", m.executorCpuTime)
        add("executor.gc_ms", m.jvmGCTime)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill.mem_bytes", m.memoryBytesSpilled)
        add("spill.disk_bytes", m.diskBytesSpilled)
        add("driver.result_bytes", m.resultSize)
      }
      events.incrementAndGet()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      action(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      action(funcName, qe, 0L, ok = false)
  }

  private def action(funcName: String, qe: QueryExecution, durationNs: Long,
                     ok: Boolean): Unit = {
    val end = nowMs
    val (op, parent) = currentOp
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    spans.add(Span(ids.incrementAndGet(), s"sql.$funcName", end - durationNs / 1e6, end,
      parent, op, Map("ok" -> ok, "analysis_ms" -> phaseMs("analysis"),
        "optimization_ms" -> phaseMs("optimization"), "planning_ms" -> phaseMs("planning"))))
    add("catalyst.actions", 1)
    add("catalyst.analysis_ms", phaseMs("analysis"))
    add("catalyst.optimization_ms", phaseMs("optimization"))
    add("catalyst.planning_ms", phaseMs("planning"))
    events.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (op, parent) = currentOp
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      d.foreach { case (k, v) =>
        spans.add(Span(ids.incrementAndGet(), s"stream.$k", start, start + v, parent, op,
          Map("batch_id" -> p.batchId)))
      }
      add("stream.trigger_ms", d.getOrElse("triggerExecution", 0L))
      add("stream.add_batch_ms", d.getOrElse("addBatch", 0L))
      add("stream.query_planning_ms", d.getOrElse("queryPlanning", 0L))
      add("stream.wal_commit_ms", d.getOrElse("walCommit", 0L))
      add("stream.commit_offsets_ms", d.getOrElse("commitOffsets", 0L))
      p.stateOperators.foreach { s =>
        add("stream.state_rows_removed", s.numRowsRemoved)
        add("stream.state_commit_ms", s.commitTimeMs)
        if (recording) {
          gauges.put("stream.state_rows", s.numRowsTotal.toDouble)
          gauges.put("stream.state_mem_bytes", s.memoryUsedBytes.toDouble)
        }
      }
      events.incrementAndGet()
    }
  }

  private def parentOf(op: String): Long =
    if (currentOp._1 == op) currentOp._2 else 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every job has ended and no listener event arrived for
    * three polls in a row (listener events are delivered asynchronously). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = events.get()
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val now = events.get()
      if (now == last && jobs.isEmpty) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** Runs one op inside a span; child spans are tied to it through the
    * `perfbench.op` local property its jobs carry. */
  def span[T](op: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = currentOp
    val start = nowMs
    currentOp = (op, id)
    try body finally {
      val end = nowMs
      drain()
      spans.add(Span(id, name, start, end, outer._2, op, Map.empty))
      currentOp = outer
    }
  }

  def openWindow(): Unit = {
    drain()
    codegenAtOpen = codegenNs
    recording = true
  }

  def closeWindow(): Unit = {
    drain()
    recording = false
    counters.getOrElseUpdate("codegen.compile_ns", new LongAdder)
      .add(codegenNs - codegenAtOpen)
  }

  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def spanList: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
    Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "parent" -> s.parent, "op" -> s.op) ++ s.attrs
  }
}

object Tracer {
  final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                        parent: Long, op: String, attrs: Map[String, Any])

  /** Local property the benchmark sets before each op; jobs carry it. */
  val OpKey = "perfbench.op"

  /** Local property Spark sets on the jobs of a streaming query. */
  val StreamQueryKey = "sql.streaming.queryId"

  /** Program modules whose jobs are attributed separately; the rest count
    * as `other`. */
  val Modules: Seq[String] = Seq("app", "sources", "operators", "functions", "report",
    "metrics", "streaming", "SparkEntry")
}
