package graft

import java.io.File
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tools.{ProfListener, ToolSession}

/** The benchmark main: warmup, then one cold and [[Bench.WarmPasses]] warm
  * noop-sink passes over the declared query surface. Writes the full
  * per-query record to a JSON sidecar and prints a compact summary line.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> [SPARK_GRAFT_BENCH_OUT=<sidecar>] sbt "runMain graft.Bench"
  */
object Bench {
  /** Measurement-protocol version stamped into every sidecar, so a
    * cross-round artifact diff can attribute level shifts to protocol
    * changes instead of code (r13 ADVICE 1). History:
    *  - (unstamped, r13): corpus provenance block added — the _SUCCESS
    *    read + per-table parquet count() runs BEFORE the warmup timer,
    *    pre-warming filesystem/footer/session state earlier rungs'
    *    warmup_sec was measured without. An artifact carrying a
    *    "corpus" block but no "protocol" field is this generation.
    *  - 2 (r14): per-settle-entry ambient self-attribution (first_load/
    *    first_gc_ms for the first pass, load/gc_ms for the re-run) and
    *    the run-level "contended" flag — the r13 graded run's 4-9x
    *    c-d-alphabet inflations needed cross-run forensics because the
    *    settle protocol cannot exonerate contention that outlasts the
    *    whole run; these fields make such a run classify itself.
    *  - 3 (r14, optimization round 1): warmup derivations run
    *    CONCURRENTLY from a bounded pool (SparkEntry.warmupProfile — guide
    *    §2.6 overlap of independent jobs), so per-derivation warmup
    *    timings overlap and sum(warmup parts) >= warmup_sec; the
    *    warmup_sec total keeps its meaning (wall clock of the whole
    *    warmup phase). Cross-round warmup-part diffs spanning this
    *    boundary measure the protocol change, not code.
    *  - 4 (r15, optimization round 2): (a) STDOUT carries a COMPACT
    *    summary line (metric/value/warmup_sec/failed/ambient markers —
    *    well under 2 KB); the full per-query/settle/warmup/corpus map
    *    lives in the sidecar file ONLY. The driver's stdout capture
    *    keeps a 2000-char tail, and the full line outgrew it from r1
    *    on (every BENCH_rNN.json r1..r14 has "parsed": null — the
    *    driver never once parsed the line; a 155-query map is >3.7 KB
    *    of names alone and can never fit a 2000-char tail), so the one
    *    line the driver CAN parse must be the small one. No timing
    *    methodology changed; the sidecar keeps every field it had, and
    *    the old numbers stand. (b) The sidecar additionally carries
    *    "warmup_cpu": per-derivation EXECUTOR time (task-time sums
    *    attributed via job descriptions) next to the wall-clock
    *    "warmup" map — under the protocol-3 concurrent pool a
    *    derivation's wall time includes its pool neighbors (the r14
    *    x128 artifact recorded excisionSpans at 6.2x its x64 wall for
    *    2x data purely by scheduling overlap), so the scale-growth
    *    guard reads the contention-free CPU map from protocol 4 on
    *    (BenchLadderSpec scopes the per-part bound by protocol).
    *  - 5: "warmup_cpu" sums executorCpuTime; protocol 4 summed
    *    executorRunTime, which is task wall time. The run-time sums
    *    move to a new "warmup_run" map. Protocol-4 and protocol-5
    *    "warmup_cpu" maps are not growth-comparable.
    *  - 6: no adjudication. After the warmup come one cold pass and
    *    [[WarmPasses]] warm passes over every query, in sorted name
    *    order, pass after pass; nothing is re-run and no earlier
    *    artifact is read. "queries" holds each query's WARM MEDIAN and
    *    "value" is warmup_sec plus the sum of those medians, so neither
    *    can be compared with protocol <= 5, whose "queries" held the
    *    first-pass time (or the lower of it and one settle re-run).
    *    "spread" holds each query's cold time and warm min and max,
    *    "pass_s" the total of each warm pass, and "executor" each
    *    query's executor run/CPU/GC/spill/shuffle totals per warm run.
    *    The "first_pass" and "settle" maps and "settle_gc_ms" are gone.
    *    A query that throws in any pass is listed in "failed" and has
    *    no timing. */
  private[graft] val Protocol = 6

  /** Warm passes after the cold one: three samples per query give its
    * median and its min–max spread. */
  private[graft] val WarmPasses = 3

  /** 3 decimal places: millisecond resolution keeps the one-line JSON
    * ~2.5 KB for 100+ queries — BENCH_r03.json was tail-truncated by the
    * driver's capture because full-precision doubles tripled the line. */
  private def fmt(sec: Double): String = f"$sec%.3f"

  /** Total JVM GC time (all collectors) — the cheap ambient-noise marker
    * the r6 PROF run showed tracks every bench inflation episode. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** 1-minute system load average — recorded in the sidecar so a graded
    * artifact carries its own evidence of ambient machine load. It trails
    * the minute before the reading, so it does not decide `contended`. */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** One reading of CPU use: the host's busy and total jiffies summed over
    * its CPUs (the aggregate `cpu` line of `/proc/stat`), its CPU count,
    * this JVM's process CPU time and the wall clock. Where `/proc/stat`
    * cannot be read, the host fields are 0. */
  private[graft] final case class CpuReading(hostBusy: Long, hostTotal: Long, hostCpus: Int,
                                             processNs: Long, wallNs: Long)

  private def cpuReading(): CpuReading = {
    val processNs = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    val stat = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().filter(_.startsWith("cpu")).toVector finally src.close()
    } catch { case NonFatal(_) => Vector.empty }
    // user nice system idle iowait irq softirq steal; guest time is
    // already inside user
    val ticks = stat.find(_.startsWith("cpu ")).toSeq
      .flatMap(_.trim.split("\\s+").slice(1, 9).map(_.toLong))
    val idle = ticks.slice(3, 5).sum
    CpuReading(ticks.sum - idle, ticks.sum, stat.count(!_.startsWith("cpu ")), processNs,
      System.nanoTime())
  }

  /** Cores that other processes kept busy on average between two
    * readings: the host's busy share of its CPUs minus this JVM's CPU
    * time, per wall second. The busy share is a ratio of jiffies, so the
    * kernel's tick rate cancels out. 0 when the host could not be read. */
  private[graft] def foreignCores(start: CpuReading, end: CpuReading): Double = {
    val wallS = (end.wallNs - start.wallNs) / 1e9
    val total = end.hostTotal - start.hostTotal
    if (wallS <= 0 || total <= 0) 0.0
    else {
      val hostBusyCores = (end.hostBusy - start.hostBusy).toDouble / total * end.hostCpus
      math.max(0.0, hostBusyCores - (end.processNs - start.processNs) / 1e9 / wallS)
    }
  }

  /** A run is contended when other processes kept more than half of its
    * cores busy on average over the run's own window. */
  private[graft] def contended(foreign: Double, cpus: Int): Boolean =
    foreign > cpus.toDouble / 2

  /** Total bytes of the corpus parquet — sizes the shuffle-partition
    * floor below. */
  private def corpusBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }

  private[graft] type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = ToolSession.cpus
    // Shuffle partitions scale with the CORPUS, not just the core count:
    // at the x64/x128 ladder rungs a 32-partition shuffle of a 2 GB
    // (compressed) corpus puts whole-corpus fractions in single task
    // buffers and the per-query profile shows the cost as spill + GC —
    // the same queries run flat when partitions track data volume. One
    // partition per ~16 MB of corpus parquet, floored at the core count
    // and capped at 512; AQE (on by default) coalesces small shuffles
    // back down, so the sf0.1 driver contract is unaffected.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      math.min(512L, math.max(cpus.toLong, corpusBytes(sfDir) >> 24)).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ANN_SAMPLE_MOD=m: run the recall report in sampled-
    // truth mode (AtScale.AnnSampleModKey) — the big-rung affordability
    // knob; unset = exact, the driver-contract mode
    sys.env.get("SPARK_GRAFT_ANN_SAMPLE_MOD").foreach(m =>
      spark.conf.set(graft.functions.AtScale.AnnSampleModKey, m))
    sys.env.get("SPARK_GRAFT_LSH_BITS").foreach(m =>
      spark.conf.set(graft.functions.AtScale.LshBitsKey, m))
    // the two output-linear heavy queries' at-scale slices (r10 verdict
    // item 4); unset = exact, the driver-contract mode
    sys.env.get("SPARK_GRAFT_EDITDIST_SAMPLE_MOD").foreach(m =>
      spark.conf.set(graft.functions.AtScale.EditdistSampleModKey, m))
    sys.env.get("SPARK_GRAFT_CALIBRATION_SAMPLE_MOD").foreach(m =>
      spark.conf.set(graft.functions.AtScale.CalibrationSampleModKey, m))
    // Sidecar in the repo (committed each round): the full per-query map
    // survives even if the driver's stdout capture truncates. Overridable
    // so off-contract runs (e.g. the BenchAtScale ladder corpora) don't
    // clobber the sf0.1 artifact.
    val sidecar = new File(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try println(run(spark, sfDir, SparkEntry.queries.toSeq, sidecar))
    finally spark.stop()
  }

  /** Runs the protocol over `queries` on `spark`'s cores, overwrites
    * `sidecar` with the full record and returns the compact line. */
  private[graft] def run(spark: SparkSession, sfDir: String,
                         queries: Seq[(String, Query)], sidecar: File): String = {
    val sc = spark.sparkContext
    val cpus = sc.defaultParallelism
    // Corpus provenance (r12 verdict item 1): the committed rung
    // artifacts must attribute cross-round level shifts to DATA, not
    // leave them indistinguishable from regressions — r12's first
    // marker-verified corpus rebuild moved q_minhash_calibration's x128
    // parity rung 50.2 -> 99.0 s and nothing in the artifact said the
    // corpus had been rebuilt. Every sidecar now carries the generator
    // rev from the corpus dir's _SUCCESS marker (written by
    // tools/ladder_refresh.sh; "none" for the driver's testdata dirs)
    // plus per-table row counts — parquet-footer metadata reads, taken
    // OUTSIDE the warmup/query timing (the total is unaffected).
    val genRev = {
      val m = new File(sfDir, "_SUCCESS")
      if (!m.exists()) "none"
      else {
        val src = scala.io.Source.fromFile(m)
        try src.mkString.trim.filter(c => c.isLetterOrDigit || c == '-' || c == '_')
        finally src.close()
      }
    }
    val corpusRows = Option(new File(sfDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => f.getName.stripSuffix(".parquet") -> spark.read.parquet(f.getPath).count())

    val loadStart = loadAvg()
    val cpuStart = cpuReading()
    // JVM/codegen warmup outside the timed region (no input data touched)
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    // Shared-derivation warmup, timed and reported as its own line item:
    // the memoized snapshot/analytic tables and pair sets are built once
    // here instead of silently inflating whichever query touches each
    // cache first. Total still includes it — nothing hides.
    val w0 = System.nanoTime()
    val gcW0 = gcMs()
    val SparkEntry.WarmupProfile(warmupParts, warmupCpu, warmupRun) =
      SparkEntry.warmupProfile(spark, sfDir)
    val warmupSec = (System.nanoTime() - w0) / 1e9
    val warmupGcMs = gcMs() - gcW0

    // Pass 0 is cold, passes 1..WarmPasses warm. Warm runs label their
    // jobs, so the context's listener charges their executor totals to
    // the query. noop sink: materializes every output row/column
    // (count() would let Catalyst prune the query down to a row count).
    val listener = ProfListener.on(sc)
    val label = ProfListener.runLabel("bench")
    val sorted = queries.sortBy(_._1)
    val samples = sorted.map(_._1 -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val gcQ0 = gcMs()
    for (pass <- 0 to WarmPasses; (name, query) <- sorted if !failed(name)) {
      sc.setJobDescription(if (pass == 0) null else s"$label: $name")
      val t0 = System.nanoTime()
      try {
        query(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples(name) += (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) =>
          failed += name
          System.err.println(s"[bench] $name: $e")
      } finally sc.setJobDescription(null)
    }
    val queriesGcMs = gcMs() - gcQ0
    listener.settle()
    val loadEnd = loadAvg()
    val foreign = foreignCores(cpuStart, cpuReading())

    val ok = sorted.map(_._1).filterNot(failed)
    val warm = ok.map(n => n -> samples(n).tail.sorted).toMap
    val medians = ok.map(n => n -> warm(n)(WarmPasses / 2))
    val passSec = (1 to WarmPasses).map(p => ok.map(samples(_)(p)).sum)
    val total = warmupSec + medians.map(_._2).sum

    def obj(members: Seq[(String, String)]): String =
      members.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def secs(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> fmt(v) })
    val spread = obj(ok.map(n => n ->
      s"""{"cold":${fmt(samples(n).head)},"min":${fmt(warm(n).head)},"max":${fmt(warm(n).last)}}"""))
    val executor = obj(ok.map(n => n -> ("{" + (listener.of(s"$label: $n") / WarmPasses).json + "}")))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // markers: GC time per phase, heap ceiling, system load at both ends
    // and the cores other processes kept busy over the run — the artifact
    // carries its own ambient-noise evidence. "contended": those cores
    // exceed half the run's core count, so the timings ran against
    // sustained external competition.
    val markers = s""""warmup_gc_ms":$warmupGcMs,"queries_gc_ms":$queriesGcMs,""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)},""" +
      s""""load_avg":[${fmt(loadStart)},${fmt(loadEnd)}],"foreign_cores":${fmt(foreign)},""" +
      s""""cpus":$cpus,"contended":${contended(foreign, cpus)},"protocol":$Protocol"""
    val corpusJson = s""""corpus":{"generator_rev":"$genRev","rows":""" +
      obj(corpusRows.toSeq.map { case (t, n) => t -> n.toString }) + "}"
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","warmup_sec":${fmt(warmupSec)}"""
    // per-derivation warmup attribution (r9 verdict item 2): warmup_sec
    // was the last unattributed slice of the graded artifact — publish
    // its composition so bench_diff.py can report warmup deltas the way
    // it reports query deltas
    val line = s"""{$head,"warmup":${secs(warmupParts)},"warmup_cpu":${secs(warmupCpu)},""" +
      s""""warmup_run":${secs(warmupRun)},"failed":$failedJson,"queries":${secs(medians)},""" +
      s""""spread":$spread,"pass_s":${passSec.map(fmt).mkString("[", ",", "]")},""" +
      s""""executor":$executor,$corpusJson,$markers,"sf":"$sfDir"}"""
    val out = new java.io.PrintWriter(sidecar, "UTF-8")
    try out.println(line) finally out.close()
    // the COMPACT stdout line (protocol 4): everything the driver's
    // 2000-char tail capture can actually parse, and a pointer to the
    // sidecar holding the full per-query/spread/provenance map
    s"""{$head,"pass_range_s":[${fmt(passSec.min)},${fmt(passSec.max)}],""" +
      s""""n_queries":${sorted.size},"n_failed":${failed.size},"failed":$failedJson,""" +
      s""""queries_sidecar":"${sidecar.getName}",$markers,"sf":"$sfDir"}"""
  }
}
