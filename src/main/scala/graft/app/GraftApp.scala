package graft.app

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.{CheckpointRelease, TickSession}
import org.apache.spark.sql.functions.col
import graft.metrics.MetricsExposition
import graft.operators._
import graft.report.ClusterReporting
import graft.sources.{SnapshotLake, Snapshots}
import scala.util.chaining._

/** Service entry point — the engine's equivalent of
  * `kafka-overwatch -c config.yaml` (reference: kafka_overwatch/cli/
  * __init__.py:71-99 -> overwatch.py:58-120). One SparkSession replaces
  * the reference's process-per-cluster + pickle/mmap plumbing; per-cluster
  * isolation is a column, parallelism is task scheduling.
  *
  * Each scheduler tick: scan the snapshot lake -> run the metric queries ->
  * write the Prometheus exposition; on the evaluation period: assemble the
  * cluster report JSON + DataFrame exports. Every tick reads its
  * watermarks and group offsets from the partitioned snapshot lake
  * (`SnapshotLake`, partition-pruned at file listing), the way a
  * production collector persists each scan and then queries it. `main`
  * writes the lake from the sf dir's deterministic fixture derivation
  * once, before the first cluster; a live deployment swaps in an
  * AdminClient collector appending the same tables.
  *
  * A tick plans and runs every action on the caller's tick session
  * (`TickSession`): a clone of the caller's session, kept across calls
  * while the caller's conf stays as it was. A tick's inputs are a few KB,
  * so the clone fixes three settings whose fixed cost per query outweighs
  * the work on such data:
  *  - whole-stage codegen off and `spark.sql.codegen.factoryMode`
  *    `NO_CODEGEN` (an internal Spark conf): operators, projections,
  *    predicates and orderings run interpreted, so a warm tick compiles
  *    no Janino class (Spark's 100-entry class cache would have evicted
  *    the last tick's classes by the next one);
  *  - adaptive execution off: each query is planned once and runs its
  *    shuffle stages in one job instead of one job each, and the SQL
  *    status store keeps one small plan per execution instead of every
  *    re-planned version with its runtime metrics.
  * The caller's session is never modified. The shared derivations
  * (`Snapshots.groupsDim`, `srSubjects` and `srRegistryCounts`) are read
  * on the caller's session and re-bound into the tick session with their
  * plan unchanged, so the shared cache manager still serves them and no
  * derivation is built for the tick session. Lake reads and every frame
  * the tick derives belong to the tick session.
  *
  * A tick works from one snapshot (`runCluster`): the scan reads the
  * filtered watermarks and group offsets from the lake once and derives
  * the per-scan lag from them; the report derives its topics/groups
  * tables once for its collect and all exports. Each of those five frames
  * is held as an eager local checkpoint, so every plan over it scans the
  * materialized rows and carries no lineage. Once the snapshot is held,
  * the gauge collects and the report run side by side on the loop's
  * action pool; the `.prom` file and the HTTP update land before the tick
  * ends. The tick releases what it checkpointed at the next scan and when
  * `runCluster` returns, dependents first; it holds no frame it did not
  * checkpoint itself. A local checkpoint cannot be recomputed: if an
  * executor is lost mid-tick, that tick fails and the next scan reads
  * again. A failing action fails its tick with its own exception once the
  * tick's other actions have ended.
  *
  * Usage: GraftApp <config.yaml> <sfDir> <outDir> [<ticks> [--lake <dir>] [--streaming]]
  * (`--lake` picks the lake directory, default `<outDir>/lake`)
  */
object GraftApp {
  def main(args: Array[String]): Unit = {
    val Array(configPath, sfDir, outDir) = args.take(3)
    val ticks = args.lift(3).map(_.toInt).getOrElse(1)
    val config = GraftConfig.parse(Files.readString(Paths.get(configPath)))
    val cpus = graft.tools.ToolSession.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val http = sys.env.get("GRAFT_METRICS_PORT")
      .map(p => new graft.metrics.MetricsHttpServer(p.toInt).start())
    val channelDefs: Map[String, Notifications.Channel] =
      (config.notificationChannels
        .map(ch => ch.name -> new Notifications.WebhookChannel(ch.name, ch.url)) ++
       config.snsChannels.map(ch => ch.name -> new Notifications.SnsChannel(
         ch.name, ch.topicArn, new Notifications.AwsSnsTransport(ch.roleArn),
         ch.ignoreErrors)) ++
       config.smtpChannels.map(ch => ch.name -> new Notifications.SmtpChannel(
         ch.name, ch.host, ch.port, ch.mailFrom, ch.mailTo))).toMap
    // the partitioned snapshot lake every tick reads, written once
    val lake = args.indexOf("--lake") match {
      case i if i >= 0 && i + 1 < args.length => args(i + 1)
      case _ => s"$outDir/lake"
    }
    try {
      SnapshotLake.write(spark, sfDir, lake)
      config.clusters.foreach { c =>
        val channels = c.reporting.notificationChannels.flatMap(channelDefs.get)
        runCluster(spark, c, sfDir, outDir, ticks, http, channels, Some(lake))
      }
      // release this snapshot dir's memoized frames before moving on —
      // a long-lived service looping over dirs must not accumulate dead
      // cached blocks per (session, dir) (SparkEntry.invalidate scaladoc)
      graft.SparkEntry.invalidate(spark, sfDir)
      if (args.contains("--streaming")) runStreaming(spark, sfDir, outDir)
    } finally { http.foreach(_.stop()); spark.stop() }
  }

  /** Streaming mode: the kafka-metadata DSv2 source replayed scan-by-scan
    * through the stateful delta operator WITH state TTL (the deleted-topic
    * tidy as event-time timeout) and a real checkpoint, writing delta rows
    * to parquet — the M6 wiring (a live deployment swaps the
    * fixture-backed source for one polling AdminClient). Restarting with
    * the same outDir resumes from the checkpoint. */
  def runStreaming(spark: SparkSession, sfDir: String, outDir: String,
                   watermarkDelay: String = "60 seconds",
                   ttlSeconds: Long = 180L): Unit = {
    import spark.implicits._
    val scans = spark.readStream.format("kafka-metadata")
      .option("dir", sfDir).load()
      .select("cluster", "topic", "partition_id", "low", "high", "scan_ts")
      .as[graft.streaming.OffsetStream.WatermarkScan]
    val q = graft.streaming.OffsetStream
      .deltasWithTtl(scans, watermarkDelay, ttlSeconds)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$outDir/stream_checkpoint")
      .option("path", s"$outDir/stream_deltas")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$outDir/stream_deltas")
    System.err.println(s"[graft] streaming mode: ${out.count()} delta rows")
  }

  /** The snapshot one tick works from: filtered watermarks, group offsets,
    * the groups dimension and the per-scan lag, as the tick's scan read
    * and derived them. */
  private final case class TickSnapshot(wm: DataFrame, go: DataFrame, gd: DataFrame,
                                        lag: DataFrame) {
    val latest: DataFrame = wm.filter(col("s") === Snapshots.NumScans)
  }

  def runCluster(spark: SparkSession, cluster: ClusterConfig, sfDir: String,
                 outDir: String, ticks: Int,
                 http: Option[graft.metrics.MetricsHttpServer] = None,
                 channels: Seq[Notifications.Channel] = Seq.empty,
                 lakeDir: Option[String] = None): Unit = {
    // no lake given: this sf dir's snapshot, written before the first tick
    val lake = lakeDir.getOrElse(s"$outDir/lake".tap(SnapshotLake.write(spark, sfDir, _)))
    val tickSession = TickSession(spark)
    // a derivation, read on the caller's session, as a tick-session frame
    def derived(d: graft.Derivation[DataFrame]): DataFrame =
      TickSession.rebind(d(spark, sfDir), tickSession)
    val loop = new Scheduler.ClusterLoop(cluster,
      sleeper = _ => (), // a run of `ticks` scans: don't wait between them
      onOverrun = ms => System.err.println(
        s"[graft] ${cluster.name}: scan overran interval by ${ms}ms"))
    val actions = new Scheduler.Actions(tickSession, s"graft-tick-${cluster.name}")

    // collector-latency Summaries (reference monitoring/prometheus.py:17-28):
    // observed around each scan's lake reads
    val topicsLatency = new graft.metrics.LatencySummary(
      "kafka_overwatch_topics_describe_latency",
      "Time spent fetching topic watermarks per scan")
    val groupsLatency = new graft.metrics.LatencySummary(
      "kafka_overwatch_groups_describe_latency",
      "Time spent fetching consumer group offsets per scan")

    // the RDDs this tick's checkpoints persisted, in checkpoint order
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    // computes the frame and returns it held
    def hold(df: DataFrame): DataFrame =
      df.localCheckpoint(eager = true).tap(_.queryExecution.logical match {
        case r: LogicalRDD => held.synchronized(held += r.rdd)
      })
    // dependents first (topics/groups, then lag, then watermarks/offsets)
    def release(): Unit = held.synchronized {
      held.reverseIterator.foreach(CheckpointRelease.release)
      held.clear()
    }

    def scan(): TickSnapshot = {
      release() // the previous tick's frames
      // the lake reads are forced inside the timed sections
      val wm = topicsLatency.time(hold(Scheduler.applyTopicFilters(
        SnapshotLake.readWatermarks(tickSession, s"$lake/watermarks"),
        cluster.topicIncludeRegexes, cluster.topicExcludeRegexes)))
      val go = groupsLatency.time(hold(
        SnapshotLake.readGroupOffsets(tickSession, s"$lake/group_offsets")))
      TickSnapshot(wm, go, derived(Snapshots.groupsDim), hold(GroupAnalytics.lagByScan(wm, go)))
    }

    // the gauge collects run side by side on the action pool
    def expose(snapshot: TickSnapshot): Unit = {
      val TickSnapshot(wm, _, gd, lag) = snapshot
      val labels = Seq("cluster" -> cluster.name)
      val text = MetricsExposition.exposition(
        TopicAnalytics.clusterTotals(wm, gd),
        GroupAnalytics.groupTopicLag(lag),
        derived(Snapshots.srRegistryCounts),
        Deltas.partitionDeltas(wm),
        GroupAnalytics.lagTrend(lag),
        run = actions.all(_)) +
        topicsLatency.render(labels) + "\n" +
        groupsLatency.render(labels) + "\n"
      Files.writeString(Paths.get(s"$outDir/metrics_${cluster.name}.prom"), text)
      http.foreach(_.update(text))
    }

    // the report describes the snapshot this tick's scan just took
    def report(snapshot: TickSnapshot): Unit = {
      val TickSnapshot(wm, go, gd, lag) = snapshot
      val topics = hold(TopicAnalytics.topicsDf(wm, go, gd))
      val groups = hold(GroupAnalytics.groupsDf(lag, gd))
      val gov = cluster.governance
      val rpt = ClusterReporting.clusterReport(cluster.name, topics, groups,
        derived(Snapshots.srSubjects), snapshot.latest,
        java.time.Instant.now(),
        topicCompliant = if (gov.topicCompliantRegexes.nonEmpty)
          gov.topicCompliantRegexes else graft.operators.Governance.DefaultCompliant,
        topicExcluded = if (gov.topicExcludedRegexes.nonEmpty)
          gov.topicExcludedRegexes else graft.operators.Governance.DefaultExcluded,
        groupCompliant = if (gov.groupCompliantRegexes.nonEmpty)
          gov.groupCompliantRegexes else Seq("^[a-z]+$"),
        groupExcluded = if (gov.groupExcludedRegexes.nonEmpty)
          gov.groupExcludedRegexes else Seq("^g_dead"))
      val json = ClusterReporting.reportJson(rpt)
      val local = Paths.get(s"$outDir/report_${cluster.name}.json")
      Files.writeString(local, json)
      // scheme-qualified output_directory -> remote upload with retry
      // (s3a:// in production, file:// in tests) — K3
      val reportUrl = if (cluster.reporting.outputDirectory.contains("://")) {
        val dest = s"${cluster.reporting.outputDirectory}/report_${cluster.name}.json"
        graft.report.RemotePut.put(
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8), dest)
        dest
      } else local.toUri.toString
      ClusterReporting.exportDf(topics, outDir, s"topics_${cluster.name}",
        cluster.reporting.exportsFormats)
      ClusterReporting.exportDf(groups, outDir, s"groups_${cluster.name}",
        cluster.reporting.exportsFormats)
      Notifications.notifyReport(channels, cluster.name,
        java.time.Instant.now().toString, reportUrl)
    }

    def tick(reportDue: Boolean): Unit = {
      val snapshot = scan()
      val reportRun = Option.when(reportDue)(actions.submit(report(snapshot)))
      val exposed = scala.util.Try(expose(snapshot))
      // the report ends before the tick does, whether or not the gauges failed
      val reported = reportRun.map(r => scala.util.Try(Scheduler.await(r)))
      exposed.get
      reported.foreach(_.get)
    }

    try loop.loop(reportDue => tick(reportDue), Some(ticks))
    finally try release() finally actions.shutdown()
  }
}
