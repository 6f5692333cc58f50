package graft.app

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.{CheckpointRelease, SessionClones, TickSession}
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
  * so the clone fixes five settings whose fixed cost per query or per job
  * outweighs the work on such data:
  *  - whole-stage codegen off and `spark.sql.codegen.factoryMode`
  *    `NO_CODEGEN` (an internal Spark conf): operators, projections,
  *    predicates and orderings run interpreted, so a warm tick compiles
  *    no Janino class (Spark's 100-entry class cache would have evicted
  *    the last tick's classes by the next one);
  *  - adaptive execution off: each query is planned once and runs its
  *    shuffle stages in one job instead of one job each, and the SQL
  *    status store keeps one small plan per execution instead of every
  *    re-planned version with its runtime metrics;
  *  - no broadcast joins (no size threshold, hints ignored): without
  *    adaptive execution each broadcast would collect its side in a job
  *    of its own before its query's job, so every join of a tick runs as
  *    a shuffle join inside its action's one job, and a tick launches no
  *    broadcast job.
  * The caller's session is never modified. The shared derivations
  * (`Snapshots.groupsDim`, `srSubjects` and `srRegistryCounts`) are read
  * on the caller's session and re-bound into the tick session with their
  * plan unchanged, so the shared cache manager still serves them and no
  * derivation is built for the tick session. Lake reads and every frame
  * the tick derives belong to the tick session.
  *
  * A tick runs its actions as one dependency DAG on the loop's action
  * pool (`Scheduler.Actions`): each action starts once the frames it
  * reads are held, so independent actions run side by side. The scan
  * reads the filtered watermarks and the group offsets from the lake side
  * by side and derives the per-scan lag from both. Each gauge collect
  * waits only for its own frame (cluster totals and deltas for the
  * watermarks, group lag and trend for the lag, the registry counts for
  * nothing), and the `.prom` file and the HTTP update follow the five
  * collects. The report derives its topics table from the watermarks and
  * offsets and its groups table from the lag. The report document is
  * three 1-row fragments (`ClusterReporting`): the topic fragment collects
  * its row once the topics table is held, the group fragment once the
  * groups table is held, and the schema registry fragment once the
  * watermarks are. The report JSON follows the three and assembles the
  * document over a one-row local relation of their rows, which the
  * optimizer folds, so it runs no job. Each export reads only its own
  * table, and the notification follows the JSON and both exports. Those five frames (watermarks, offsets, lag, topics,
  * groups) are each held as an eager local checkpoint, so every plan over
  * them scans the materialized rows and carries no lineage. The tick
  * releases what it checkpointed at the next scan and when `runCluster`
  * returns, dependents first; it holds no frame it did not checkpoint
  * itself. A local checkpoint cannot be recomputed: if an executor is
  * lost mid-tick, that tick fails and the next scan reads again. A
  * failing action skips the actions that read it; the tick fails with the
  * first failed action's own exception once its other actions have
  * ended.
  *
  * Usage: GraftApp <config.yaml> <sfDir> <outDir> [<ticks>] [--lake <dir>] [--streaming]
  * (`--lake` picks the lake directory, default `<outDir>/lake`)
  */
object GraftApp {
  /** `main`'s command line: the three required arguments, then in any
    * order an optional tick count (default 1), `--lake <dir>` (default
    * `<outDir>/lake`) and `--streaming`. The tick count is the first
    * further argument that is neither a flag nor a flag's value. */
  final case class Args(configPath: String, sfDir: String, outDir: String,
                        ticks: Int, lake: String, streaming: Boolean)

  object Args {
    val Usage =
      "usage: GraftApp <config.yaml> <sfDir> <outDir> [<ticks>] [--lake <dir>] [--streaming]"

    def parse(args: Seq[String]): Args = {
      require(args.size >= 3 && args.take(3).forall(!_.startsWith("--")), Usage)
      val Seq(configPath, sfDir, outDir) = args.take(3)
      @scala.annotation.tailrec
      def options(rest: List[String], ticks: Option[Int], lake: Option[String],
                  streaming: Boolean): Args = rest match {
        case Nil => Args(configPath, sfDir, outDir, ticks.getOrElse(1),
          lake.getOrElse(s"$outDir/lake"), streaming)
        case "--lake" :: dir :: tail if !dir.startsWith("--") =>
          options(tail, ticks, Some(dir), streaming)
        case "--streaming" :: tail => options(tail, ticks, lake, streaming = true)
        case n :: tail if ticks.isEmpty && n.toIntOption.isDefined =>
          options(tail, n.toIntOption, lake, streaming)
        case other :: _ =>
          throw new IllegalArgumentException(s"unexpected argument '$other'\n$Usage")
      }
      options(args.drop(3).toList, None, None, streaming = false)
    }
  }

  def main(argv: Array[String]): Unit = {
    val Args(configPath, sfDir, outDir, ticks, lake, streaming) = Args.parse(argv.toSeq)
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
    try {
      // the partitioned snapshot lake every tick reads, written once
      SnapshotLake.write(spark, sfDir, lake)
      config.clusters.foreach { c =>
        val channels = c.reporting.notificationChannels.flatMap(channelDefs.get)
        runCluster(spark, c, sfDir, outDir, ticks, http, channels, Some(lake))
      }
      // release this snapshot dir's memoized frames before moving on —
      // a long-lived service looping over dirs must not accumulate dead
      // cached blocks per (session, dir) (SparkEntry.invalidate scaladoc)
      graft.SparkEntry.invalidate(spark, sfDir)
      if (streaming) runStreaming(spark, sfDir, outDir)
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
      SessionClones.rebind(d(spark, sfDir), tickSession)
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
    // dependents first: checkpoints complete in a topological order
    def release(): Unit = held.synchronized {
      held.reverseIterator.foreach(CheckpointRelease.release)
      held.clear()
    }

    def tick(reportDue: Boolean): Unit = {
      release() // the previous tick's frames
      val gd = derived(Snapshots.groupsDim)
      actions.run { dag =>
        import dag.after
        // the scan: the lake reads are forced inside the timed sections
        val wm = after()(topicsLatency.time(hold(Scheduler.applyTopicFilters(
          SnapshotLake.readWatermarks(tickSession, s"$lake/watermarks"),
          cluster.topicIncludeRegexes, cluster.topicExcludeRegexes))))
        val go = after()(groupsLatency.time(hold(
          SnapshotLake.readGroupOffsets(tickSession, s"$lake/group_offsets"))))
        val lag = after(wm, go)(hold(GroupAnalytics.lagByScan(wm.join(), go.join())))

        // the gauges: each collect waits only for its own frame
        val totals = after(wm)(MetricsExposition.totalsRows(
          TopicAnalytics.clusterTotals(wm.join(), gd)))
        val lagRows = after(lag)(MetricsExposition.lagRows(
          GroupAnalytics.groupTopicLag(lag.join())))
        val sr = after()(MetricsExposition.srRows(derived(Snapshots.srRegistryCounts)))
        val deltas = after(wm)(MetricsExposition.deltaRows(Deltas.partitionDeltas(wm.join())))
        val trend = after(lag)(MetricsExposition.trendRows(GroupAnalytics.lagTrend(lag.join())))
        after(totals, lagRows, sr, deltas, trend) {
          val labels = Seq("cluster" -> cluster.name)
          val text = MetricsExposition.render(totals.join(), lagRows.join(), sr.join(),
            deltas.join(), trend.join()) +
            topicsLatency.render(labels) + "\n" +
            groupsLatency.render(labels) + "\n"
          Files.writeString(Paths.get(s"$outDir/metrics_${cluster.name}.prom"), text)
          http.foreach(_.update(text))
        }

        // the report describes the snapshot this tick's scan just took:
        // each fragment collects its one row once its input is held, and
        // the document is assembled over those rows without another job
        if (reportDue) {
          val gov = cluster.governance
          val topics = after(wm, go)(hold(TopicAnalytics.topicsDf(wm.join(), go.join(), gd)))
          val groups = after(lag)(hold(GroupAnalytics.groupsDf(lag.join(), gd)))
          val topicRow = after(topics)(ClusterReporting.topicFragment(topics.join(),
            gov.topicCompliant, gov.topicExcluded).collect()(0))
          val groupRow = after(groups)(ClusterReporting.groupFragment(groups.join(),
            gov.groupCompliant, gov.groupExcluded).collect()(0))
          val srRow = after(wm)(ClusterReporting.srFragment(derived(Snapshots.srSubjects),
            wm.join().filter(col("s") === Snapshots.NumScans)).collect()(0))
          val reportUrl = after(topicRow, groupRow, srRow)(writeReport(cluster, outDir,
            ClusterReporting.reportJson(ClusterReporting.assemble(cluster.name,
              java.time.Instant.now(), ClusterReporting.fragments(tickSession,
                Seq(topicRow.join(), groupRow.join(), srRow.join()))))))
          val exports = Seq(topics -> "topics", groups -> "groups").map { case (df, table) =>
            after(df)(ClusterReporting.exportDf(df.join(), outDir,
              s"${table}_${cluster.name}", cluster.reporting.exportsFormats))
          }
          after(reportUrl +: exports: _*)(Notifications.notifyReport(channels,
            cluster.name, java.time.Instant.now().toString, reportUrl.join()))
        }
      }
    }

    try loop.loop(reportDue => tick(reportDue), Some(ticks))
    finally try release() finally actions.shutdown()
  }

  /** Writes the report JSON to `outDir`, and uploads it when the cluster's
    * output directory is scheme-qualified; returns the report's URL. */
  private def writeReport(cluster: ClusterConfig, outDir: String, json: String): String = {
    val local = Paths.get(s"$outDir/report_${cluster.name}.json")
    Files.writeString(local, json)
    // scheme-qualified output_directory -> remote upload with retry
    // (s3a:// in production, file:// in tests) — K3
    if (cluster.reporting.outputDirectory.contains("://")) {
      val dest = s"${cluster.reporting.outputDirectory}/report_${cluster.name}.json"
      graft.report.RemotePut.put(
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8), dest)
      dest
    } else local.toUri.toString
  }
}
