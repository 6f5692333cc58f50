package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Command-line options; run.py passes all of them. */
final case class Opts(args: Map[String, String]) {
  def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def workload: String = apply("workload")
  def seed: Long = apply("seed").toLong
  def seconds: Double = apply("seconds").toDouble
  def trace: Boolean = args.get("trace").contains("1")
  def data: String = apply("data")
  def work: String = apply("work")
  /** Untimed warm-up ops before the measured window. */
  def warmOps(default: Int): Int = args.get("warm-ops").map(_.toInt).getOrElse(default)
}

object Opts {
  def parse(argv: Array[String]): Opts =
    Opts(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap)
}

/** State shared by a workload run: the session, the set-up and op logs
  * and the optional tracer. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Option[Tracer],
                val sessionSeconds: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Seconds of each set-up repetition, the cold first one included. */
  val setUps = ArrayBuffer[Double]()
  /** Seconds of each warm-up op that succeeded. */
  val warm = ArrayBuffer[Double]()
  var warmOpsRun = 0
  /** (op name, seconds) of every timed op that succeeded. */
  val timed = ArrayBuffer[(String, Double)]()
  var attempted = 0
  var failed = 0
  val layer = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val detail = scala.collection.mutable.LinkedHashMap[String, Any]()
  val problems = ArrayBuffer[String]()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` inside a span when tracing and returns its result and
    * wall seconds. The span's wait for listener events to drain comes
    * after the body and is not counted. */
  def timedSpan[T](id: String, name: String)(body: => T): (T, Double) = {
    var out: Option[(T, Double)] = None
    tracer match {
      case Some(t) => t.span(id, name) { out = Some(seconds(body)) }
      case None => out = Some(seconds(body))
    }
    out.get
  }

  /** Times one repetition of the workload's set-up. */
  def setUpRun[T](i: Int)(body: => T): T = {
    val (r, s) = timedSpan("setup", s"setup.$i")(body)
    setUps += s
    r
  }

  /** Runs one op under its local property (and span, when tracing).
    * Returns its wall seconds, or None when it threw. */
  def op(id: String, name: String)(body: => Unit): Option[Double] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, id)
    try Some(timedSpan(id, name)(body)._2)
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] op $id ($name) failed: $e")
      None
    } finally sc.setLocalProperty(Tracer.OpKey, null)
  }

  /** An untimed warm-up op: settling after set-up, never in the timed
    * figures or in `setup_s`. */
  def warmOp(id: String, name: String)(body: => Unit): Boolean = {
    warmOpsRun += 1
    val r = op(s"warm-$id", name)(body)
    warm ++= r
    r.isDefined
  }

  /** A measured op: counted in attempted/failed and, when it succeeds, in
    * the latency figures. */
  def timedOp(id: String, name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val r = op(id, name)(body)
    r match {
      case Some(s) => timed += (name -> s)
      case None => failed += 1
    }
    r
  }

  /** Runs timed ops until `opts.seconds` have passed (at least one round). */
  def measure(round: Int => Unit): Unit = {
    tracer.foreach(_.openWindow())
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < opts.seconds) { round(i); i += 1 }
    tracer.foreach(_.closeWindow())
  }

  def setLayer(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)
}

object Main {
  /** Set-up repetitions per run. Every workload runs its first set-up in
    * the cold JVM, then its warm-up ops, then the other set-ups; `setup_s`
    * is the median of those others, so it reads a set-up in a warm JVM
    * (the cold one is the per-layer `setup.first_s`). The ops use the last
    * set-up's inputs. */
  val SetUpRepeats = 4

  /** The median of the warm set-ups. */
  def setupSeconds(ctx: Ctx): Double = Stats.percentile(ctx.setUps.drop(1).toSeq, 50)

  val Workloads: Map[String, Ctx => Unit] = Map(
    "service_tick" -> ServiceTick.run,
    "query_surface" -> QuerySurface.run,
    "stream_offsets" -> StreamOffsets.run)

  def main(argv: Array[String]): Unit = {
    val opts = Opts.parse(argv)
    val code = opts.args.getOrElse("mode", "run") match {
      case "families" =>
        val problems = Families.check(graft.SparkEntry.queries.keySet)
        problems.foreach(p => System.err.println(s"[perfbench] family table: $p"))
        if (problems.isEmpty) println(s"family table covers ${graft.SparkEntry.queries.size} queries")
        if (problems.isEmpty) 0 else 1
      case "oracle-sql" =>
        Json.write(opts("out"), graft.SparkEntry.oracleSql)
        0
      case "run" => run(opts)
    }
    sys.exit(code)
  }

  private def gcCollectMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use once forced full collections stop freeing memory: the
    * ContextCleaner releases broadcast and shuffle blocks only after a
    * collection finds them unreachable, so one collection is not enough.
    * Stable means three readings in a row within 1%. */
  private def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val readings = ArrayBuffer(used(), used(), used())
    def stable: Boolean = {
      val last = readings.takeRight(3)
      last.max - last.min <= 0.01 * last.min
    }
    while (!stable && readings.size < 10) readings += used()
    readings.last
  }

  private def run(opts: Opts): Int = {
    val workload = Workloads.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val loadStart = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionSeconds) = {
      val t0 = System.nanoTime()
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${opts.workload}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        // stopped set-up queries keep their state stores loaded until a
        // maintenance pass unloads them; with the 60 s default that pass
        // would land inside some runs and not others
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${opts.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val tracer = if (opts.trace) {
      val bench = Option(new java.io.File(opts("bench-src")).listFiles()).toSeq.flatten
        .map(_.getName).toSet
      val t = new Tracer(spark, new SourceModules(new java.io.File(opts("program-src")), bench))
      t.install()
      Some(t)
    } else None
    val ctx = new Ctx(spark, opts, tracer, sessionSeconds)
    val gc0 = gcCollectMs()
    try workload(ctx)
    catch { case NonFatal(e) =>
      e.printStackTrace()
      ctx.problems += s"workload aborted: $e"
    }
    val heapMb = retainedHeapMb()
    val loadEnd = loadAvg()
    tracer.foreach(t => Layers.fill(ctx, t))
    tracer.foreach(_.uninstall())

    val lat = ctx.timed.map(_._2).toSeq
    // a run times two ticks or about fifteen batches: enough for a median,
    // not for a tail percentile; the mean follows bursts of host noise
    val metrics =
      if (opts.trace) Layers.printed(opts.workload, ctx.layer.toSeq)
      else Seq(
        "setup_s" -> (setupSeconds(ctx), "s"),
        "retained_heap_mb" -> (heapMb, "MB"),
        "op_p50_s" -> (Stats.percentile(lat, 50), "s"))
    val ambient = Map(
      "nproc" -> cores,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadEnd,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "revision" -> opts.args.getOrElse("revision", "unknown"),
      "seed" -> opts.seed,
      "warm_ops" -> ctx.warmOpsRun,
      "timed_ops" -> lat.size,
      "gc_ms" -> (gcCollectMs() - gc0))
    Json.write(opts("out"), Map(
      "workload" -> opts.workload,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "problems" -> ctx.problems.toSeq,
      "op_seconds" -> lat,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "setup" -> Map("session" -> sessionSeconds, "repeats" -> ctx.setUps.toSeq,
        "warm_ops" -> ctx.warm.toSeq),
      "ambient" -> ambient,
      "detail" -> ctx.detail.toMap))
    tracer.foreach(t => Json.write(opts("trace-out"), Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "ambient" -> ambient,
      "ops" -> ctx.timed.map { case (n, s) => Seq(n, s) }.toSeq,
      "detail" -> ctx.detail.toMap, "spans" -> t.spanList)))
    spark.stop()
    0
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
