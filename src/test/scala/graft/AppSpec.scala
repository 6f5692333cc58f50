package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.app.{GraftConfig, Scheduler}
import graft.metrics.MetricsExposition
import graft.operators.{ChangeFeed, Deltas, GroupAnalytics, TopicAnalytics}
import graft.sources.Snapshots
import scala.util.chaining._

class AppSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val yaml =
    """global:
      |  cluster_scan_interval_in_seconds: 20
      |clusters:
      |  prod:
      |    cluster_scan_interval_in_seconds: 45
      |    topic_include_regexes: ["^prod"]
      |    topic_exclude_regexes: ["^prod_internal"]
      |    governance:
      |      topic_naming_convention:
      |        regexes: ["^[a-z]+$"]
      |    reporting_config:
      |      evaluation_period_in_seconds: 90
      |      exports:
      |        formats: [csv, json]
      |    schema_registry: main-sr
      |  staging: {}
      |schema_registries:
      |  main-sr:
      |    schema_registry_scan_interval: 120
      |""".stripMargin

  test("yaml config parses with reference defaults and validation") {
    val c = GraftConfig.parse(yaml)
    assert(c.globalScanIntervalSeconds === 20L)
    val prod = c.clusters.find(_.name == "prod").get
    assert(prod.scanIntervalSeconds === 45L)
    assert(prod.topicIncludeRegexes === Seq("^prod"))
    assert(prod.governance.topicCompliantRegexes === Seq("^[a-z]+$"))
    assert(prod.reporting.evaluationPeriodSeconds === 90L)
    assert(prod.reporting.exportsFormats === Seq("csv", "json"))
    // staging inherits the global fallback (reference config/config.py:38)
    assert(c.clusters.find(_.name == "staging").get.scanIntervalSeconds === 20L)
    assert(c.schemaRegistries === Seq(app.SchemaRegistryConfig("main-sr", 120L)))
  }

  test("config validation rejects bad input") {
    intercept[IllegalArgumentException](
      GraftConfig.parse("clusters:\n  c1:\n    cluster_scan_interval_in_seconds: 0\n"))
    intercept[IllegalArgumentException](
      GraftConfig.parse("clusters:\n  c1:\n    schema_registry: missing\n"))
    intercept[Exception](
      GraftConfig.parse("clusters:\n  c1:\n    topic_include_regexes: [\"[\"]\n"))
  }

  test("Q7: topic include/exclude filters apply at ingest") {
    import spark.implicits._
    val wm = Seq(("c1", "prod_a", 0L), ("c1", "prod_internal_x", 0L), ("c1", "other", 0L))
      .toDF("cluster", "topic", "partition_id")
    val got = Scheduler.applyTopicFilters(wm, Seq("^prod"), Seq("^prod_internal"))
      .select("topic").as[String].collect().toSet
    assert(got === Set("prod_a"))
  }

  test("scheduler: report fires on evaluation period, sleep fills the interval, overrun warns") {
    val cfg = app.ClusterConfig("c1", scanIntervalSeconds = 10L,
      reporting = app.ReportingConfig(evaluationPeriodSeconds = 25L))
    var now = 0L
    var slept = Vector.empty[Long]
    var overruns = Vector.empty[Long]
    var scans = 0; var reports = 0
    val loop = new Scheduler.ClusterLoop(cfg, () => now,
      ms => { slept :+= ms; now += ms }, o => overruns :+= o)
    def scan(): Unit = { scans += 1; now += 2000 } // scan takes 2s
    def report(): Unit = reports += 1
    loop.loop(reportDue => { scan(); if (reportDue) report() }, Some(4))
    assert(scans === 4)
    // reports at t=0 and t=30s (evaluation period 25s, scans every 10s)
    assert(reports === 2)
    assert(slept === Vector(8000L, 8000L, 8000L, 8000L))
    assert(overruns.isEmpty)
    // a slow scan overruns: no sleep, warning invoked
    def slowScan(): Unit = { scans += 1; now += 12000 }
    val r = loop.tick(reportDue => { slowScan(); if (reportDue) report() })
    assert(r.overrunMillis === 2000L && r.sleptMillis === 0L)
    assert(overruns === Vector(2000L))
  }

  test("prometheus exposition renders the reference gauge catalog") {
    val dir = TestSpark.Sf0001
    val wm = Snapshots.watermarks(spark, dir)
    val lag = GroupAnalytics.lagByScan(wm, Snapshots.groupOffsets(spark, dir))
    val text = MetricsExposition.exposition(
      TopicAnalytics.clusterTotals(wm, Snapshots.groupsDim(spark, dir)),
      GroupAnalytics.groupTopicLag(lag),
      graft.operators.SchemaRegistryOps.counts(Snapshots.srSubjects(spark, dir),
        wm.filter(org.apache.spark.sql.functions.col("s") === Snapshots.NumScans)),
      Deltas.partitionDeltas(wm),
      GroupAnalytics.lagTrend(lag))
    assert(text.contains("# TYPE kafka_overwatch_cluster_topics_count gauge"))
    assert(text.contains("# TYPE kafka_overwatch_consumer_group_lag_slope gauge"))
    assert(text.contains("""kafka_overwatch_consumer_group_lag_slope{cluster="c1",grp="g_active""""))
    // the fleet spans two clusters: 5 even-length topics on c1, 4 odd on c2
    assert(text.contains("""kafka_overwatch_cluster_topics_count{cluster="c1"} 5"""))
    assert(text.contains("""kafka_overwatch_cluster_topics_count{cluster="c2"} 4"""))
    assert(text.contains("""kafka_overwatch_consumer_group_lag{cluster="c1",grp="g_active""""))
    assert(text.contains("""kafka_overwatch_consumer_group_lag{cluster="c2",grp="g_active""""))
    // two registries (sr1 serves c1, sr2 serves c2) — 9 subjects total
    assert(text.contains("""kafka_overwatch_subjects_count{registry="sr1"} 5"""))
    assert(text.contains("""kafka_overwatch_subjects_count{registry="sr2"} 4"""))
    assert(text.contains("kafka_overwatch_topic_partition_new_messages{"))
  }

  test("runCluster exposes collector latency summaries alongside the gauges") {
    val out = java.nio.file.Files.createTempDirectory("graft-app").toString
    graft.app.GraftApp.runCluster(spark, app.ClusterConfig("c1"),
      TestSpark.Sf0001, out, ticks = 2)
    val prom = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/metrics_c1.prom"))
    assert(prom.contains("# TYPE kafka_overwatch_topics_describe_latency summary"))
    assert(prom.contains("""kafka_overwatch_topics_describe_latency_count{cluster="c1"} 2"""))
    assert(prom.contains("""kafka_overwatch_topics_describe_latency_sum{cluster="c1"}"""))
    assert(prom.contains("""kafka_overwatch_groups_describe_latency_count{cluster="c1"} 2"""))
    assert(prom.contains("# TYPE kafka_overwatch_cluster_topics_count gauge"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/report_c1.json")))
  }

  test("exposition matches the per-family gauge documents, family by family") {
    import org.apache.spark.sql.functions.{col, max_by}
    val dir = TestSpark.Sf0001
    val wm = Snapshots.watermarks(spark, dir)
    val byScan = GroupAnalytics.lagByScan(wm, Snapshots.groupOffsets(spark, dir))
    val totals = TopicAnalytics.clusterTotals(wm, Snapshots.groupsDim(spark, dir))
    val lag = GroupAnalytics.groupTopicLag(byScan)
    val sr = graft.operators.SchemaRegistryOps.counts(Snapshots.srSubjects(spark, dir),
      wm.filter(col("s") === Snapshots.NumScans))
    val deltas = Deltas.partitionDeltas(wm)
    val trend = GroupAnalytics.lagTrend(byScan)
    val latestDelta = deltas.groupBy(col("cluster"), col("topic"), col("partition_id"))
      .agg(max_by(col("delta"), col("scan_ts")).as("delta"))
    import MetricsExposition.gauge
    val expected = Seq(
      gauge("kafka_overwatch_cluster_topics_count", "Total topics per cluster",
        totals, Seq("cluster"), "topics_count"),
      gauge("kafka_overwatch_cluster_partitions_count", "Total partitions per cluster",
        totals, Seq("cluster"), "partitions_count"),
      gauge("kafka_overwatch_cluster_consumer_groups_count", "Total consumer groups per cluster",
        totals, Seq("cluster"), "consumer_groups_count"),
      gauge("kafka_overwatch_consumer_group_lag", "Total lag per group and topic",
        lag, Seq("cluster", "grp", "topic"), "total_lag"),
      gauge("kafka_overwatch_subjects_count", "Schema registry subjects",
        sr, Seq("registry"), "subjects_count"),
      gauge("kafka_overwatch_schemas_count", "Schema registry schemas",
        sr, Seq("registry"), "schemas_count"),
      gauge("kafka_overwatch_topic_partition_new_messages", "New messages in the last scan interval",
        latestDelta, Seq("cluster", "topic", "partition_id"), "delta"),
      gauge("kafka_overwatch_consumer_group_lag_slope",
        "Lag least-squares slope over the scan history (positive = falling behind)",
        trend, Seq("cluster", "grp", "topic"), "slope")).mkString("\n") + "\n"
    val got = MetricsExposition.exposition(totals, lag, sr, deltas, trend)
    assert(got === expected)
  }

  test("runCluster releases the frames its ticks persisted and keeps the snapshot memo") {
    import org.apache.spark.storage.StorageLevel
    val dir = TestSpark.Sf0001
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.storageLevel != StorageLevel.NONE // a cacheManager lookup by plan

    // an isolated session with its own memo: the cache manager is shared
    // by every session of the context and matches by plan, so another
    // suite invalidating its memo can uncache the shared session's
    val s = isolated()
    val tickRdds = newPersistentRdds(s, dir)
    assert(tickRdds().isEmpty)
    val memo = Snapshots.cachedFrames(s, dir)
    assert(memo.exists(_ eq Snapshots.watermarks(s, dir)))
    assert(memo.exists(_ eq Snapshots.groupOffsets(s, dir)))
    val keys = SparkEntry.memoKeyCount(s)
    // with no lake given runCluster writes one from the Snapshots memo;
    // either way each tick checkpoints the watermarks and offsets it reads
    // from the lake, their per-scan lag and the report's topics/groups
    // tables, and releases every one of them on return
    Seq(None, Some(writeLake(s, dir))).foreach { lakeDir =>
      val probe = new Probe(() =>
        (tickRdds().size, memo.forall(cached), org.apache.spark.sql.SparkSession.active))
      graft.app.GraftApp.runCluster(s, cfg, dir,
        java.nio.file.Files.createTempDirectory("graft-app-lifecycle").toString,
        ticks = 2, channels = Seq(probe), lakeDir = lakeDir)
      assert(probe.seen.map(_._1) === Vector(5, 5),
        s"lake $lakeDir: a tick did not hold exactly its 5 checkpointed frames")
      assert(tickRdds().isEmpty, s"lake $lakeDir: a tick frame outlived runCluster")
      assert(probe.seen.forall(_._2) && memo.forall(cached),
        s"lake $lakeDir: a tick released a memoized snapshot frame")
      // the ticks read every derivation on the caller's session: none was
      // built for the tick session, and the caller's were built before
      val tickSession = probe.seen.head._3
      assert(tickSession ne s)
      assert(SparkEntry.memoKeyCount(tickSession) === 0, "a derivation was built in the tick session")
      assert(SparkEntry.memoKeyCount(s) === keys, "a tick rebuilt a derivation")
    }
  }

  test("a lake-mode tick's gauges and report equal the compiled path's over the same lake") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    import graft.sources.SnapshotLake
    import graft.report.ClusterReporting
    val dir = TestSpark.Sf0001
    // the caller compiles every query and plans it adaptively
    val s = isolated()
    Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.adaptive.enabled" -> "true").foreach { case (k, v) => s.conf.set(k, v) }
    val lake = writeLake(s, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-app-equal").toString
    graft.app.GraftApp.runCluster(s, app.ClusterConfig("c1"), dir, out, ticks = 1,
      lakeDir = Some(lake))

    val wm = SnapshotLake.readWatermarks(s, s"$lake/watermarks")
    val go = SnapshotLake.readGroupOffsets(s, s"$lake/group_offsets")
    val gd = Snapshots.groupsDim(s, dir)
    val lag = GroupAnalytics.lagByScan(wm, go)
    val exposition = MetricsExposition.exposition(TopicAnalytics.clusterTotals(wm, gd),
      GroupAnalytics.groupTopicLag(lag), Snapshots.srRegistryCounts(s, dir),
      Deltas.partitionDeltas(wm), GroupAnalytics.lagTrend(lag))
    // the gauge lines in any order; the latency summaries are timings
    val prom = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/metrics_c1.prom"))
    assert(prom.linesIterator.filterNot(_.contains("_describe_latency")).toSeq.sorted ===
      exposition.linesIterator.toSeq.sorted)

    val report = ClusterReporting.reportJson(ClusterReporting.clusterReport("c1",
      TopicAnalytics.topicsDf(wm, go, gd), GroupAnalytics.groupsDf(lag, gd),
      Snapshots.srSubjects(s, dir), wm.filter(org.apache.spark.sql.functions.col("s") ===
        Snapshots.NumScans), java.time.Instant.now()))
    // every field but the timestamp, map entries in any order
    def fields(json: String) = new ObjectMapper().readTree(json).tap(_.get("cluster")
      .get("metadata").asInstanceOf[ObjectNode].remove("timestamp"))
    assert(fields(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/report_c1.json"))) === fields(report))
  }

  test("a tick runs on an interpreted tick session and leaves the caller's conf as it was") {
    val dir = TestSpark.Sf0001
    val s = isolated()
    val lake = writeLake(s, dir)
    newPersistentRdds(s, dir) // the derivations the ticks read, built on the caller's session
    val before = s.conf.getAll
    val probe = new Probe(() => (s.conf.getAll, org.apache.spark.sql.SparkSession.active))
    graft.app.GraftApp.runCluster(s, cfg, dir,
      java.nio.file.Files.createTempDirectory("graft-app-conf").toString,
      ticks = 2, channels = Seq(probe), lakeDir = Some(lake))
    assert(probe.seen.map(_._1) === Vector(before, before), "a tick changed the caller's conf")
    assert(s.conf.getAll === before, "runCluster left the caller's conf changed")
    val Vector(first, second) = probe.seen.map(_._2)
    assert((first ne s) && (second eq first))
    org.apache.spark.sql.graft.TickSession.Settings.foreach { case (k, v) =>
      assert(first.conf.get(k) === v)
    }
  }

  test("a warm tick compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = TestSpark.Sf0001
    val s = isolated()
    val lake = writeLake(s, dir)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the count as each tick's report ends; its gauges may still run
    val probe = new Probe(() => compiles)
    graft.app.GraftApp.runCluster(s, cfg, dir,
      java.nio.file.Files.createTempDirectory("graft-app-compiles").toString,
      ticks = 3, channels = Seq(probe), lakeDir = Some(lake))
    // from the end of the second tick's report: the rest of the second
    // tick and all of the third
    assert(compiles === probe.seen(1), "a warm tick compiled a class")
  }

  test("a warm lake-mode tick adds at most 2,000 SQL plan metrics to the status store") {
    val s = isolated()
    val lines = Seq.newBuilder[String]
    // the second tick is the second call on the same caller session
    tools.Profile.run(s, TestSpark.Sf0001, Seq("tick", "2"))(lines += _)
    val warm = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.result()(1))
    assert(warm.get("executions").asInt > 0)
    assert(warm.get("sql_metrics").asInt <= 2000, warm.toString)
    assert(warm.get("codegen_compiles").asInt === 0, warm.toString)
  }

  test("a failing tick action fails runCluster with its own exception and leaves nothing held") {
    import scala.jdk.CollectionConverters._
    val dir = TestSpark.Sf0001
    val s = isolated()
    val lake = writeLake(s, dir)
    // the report action fails after its exports, while the gauges may
    // still be collecting
    val down = new IllegalStateException("notification channel down")
    val failing = new app.Notifications.Channel {
      val name = "failing"
      def publish(m: app.Notifications.Message): Unit = throw down
    }
    val tickRdds = newPersistentRdds(s, dir)
    val thrown = intercept[IllegalStateException](graft.app.GraftApp.runCluster(s,
      app.ClusterConfig("c1"), dir,
      java.nio.file.Files.createTempDirectory("graft-app-failing").toString,
      ticks = 2, channels = Seq(failing), lakeDir = Some(lake)))
    assert(thrown eq down)
    assert(tickRdds().isEmpty, "a tick frame outlived the failed runCluster")
    val poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-tick-"))
    assert(poolThreads.isEmpty, s"pool threads left alive: $poolThreads")
  }

  /** Probes from inside a tick: the report notifies its channels after
    * its last export, on the tick's action pool. */
  private final class Probe[A](probe: () => A) extends app.Notifications.Channel {
    val name = "probe"
    var seen = Vector.empty[A]
    def publish(m: app.Notifications.Message): Unit = seen :+= probe()
  }

  /** A zero evaluation period: every tick reports. */
  private val cfg = app.ClusterConfig("c1",
    reporting = app.ReportingConfig(evaluationPeriodSeconds = 0L))

  /** A snapshot lake of `dir`, written as `GraftApp` writes it. */
  private def writeLake(s: org.apache.spark.sql.SparkSession, dir: String): String =
    java.nio.file.Files.createTempDirectory("graft-lake").toString
      .tap(graft.sources.SnapshotLake.write(s, dir, _))

  /** A session with its own memo and the shared session's settings. */
  private def isolated(): org.apache.spark.sql.SparkSession = {
    val s = TestSpark.spark.newSession()
    TestSpark.spark.conf.getAll.foreach { case (k, v) =>
      if (s.conf.isModifiable(k)) s.conf.set(k, v)
    }
    s
  }

  /** Builds the snapshot declarations a tick reads or writes its lake
    * from, then returns a probe of the persistent RDDs created since: only
    * a tick's own. */
  private def newPersistentRdds(s: org.apache.spark.sql.SparkSession,
                                dir: String): () => Set[Int] = {
    Seq(Snapshots.watermarks(s, dir), Snapshots.groupOffsets(s, dir),
      Snapshots.groupsDim(s, dir), Snapshots.srSubjects(s, dir),
      Snapshots.srRegistryCounts(s, dir)).foreach(_.count())
    val before = s.sparkContext.getPersistentRDDs.keySet
    () => s.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("lake mode: app IO reads the partitioned lake with pruned scans") {
    import graft.sources.SnapshotLake
    val lake = java.nio.file.Files.createTempDirectory("graft-lake-app").toString
    val out = java.nio.file.Files.createTempDirectory("graft-app-lake-out").toString
    SnapshotLake.write(spark, TestSpark.Sf0001, lake)
    // lake round-trip is loss-free (canonical column order/types restored
    // on read; nullability legitimately widens through parquet)
    val back = SnapshotLake.readWatermarks(spark, s"$lake/watermarks")
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      Snapshots.watermarks(spark, TestSpark.Sf0001).schema
        .map(f => (f.name, f.dataType)))
    assert(back.count() === Snapshots.watermarks(spark, TestSpark.Sf0001).count())
    // the latest-scan view reads ONLY the s=<latest> partition
    // directories — partition pruning at file listing, the property that
    // holds at any history length. (inputFiles lists the whole relation;
    // pruning is a physical-plan property, so assert on the scan node's
    // pushed partition filters and its executed numFiles metric.)
    val latest = back.filter(
      org.apache.spark.sql.functions.col("s") === Snapshots.NumScans)
    latest.collect()
    val scanNode = latest.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan in the lake read plan"))
    assert(scanNode.metadata("PartitionFilters").contains(s"= ${Snapshots.NumScans}"))
    def filesUnder(p: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(f => f.toString.endsWith(".parquet")).count() finally s.close()
    }
    val latestFiles = scanNode.metrics("numFiles").value
    assert(latestFiles > 0)
    assert(latestFiles < filesUnder(s"$lake/watermarks")) // strictly pruned
    // exactly the files living in s=<latest> directories, across clusters
    val onDiskLatest = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$lake/watermarks"))
      try s.filter(f => f.toString.endsWith(".parquet") &&
        f.toString.contains(s"/s=${Snapshots.NumScans}/")).count()
      finally s.close()
    }
    assert(latestFiles === onDiskLatest)
    // and the app runs end-to-end with the lake as its IO path
    graft.app.GraftApp.runCluster(spark, app.ClusterConfig("c1"),
      TestSpark.Sf0001, out, ticks = 1, lakeDir = Some(lake))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/report_c1.json")))
    val prom = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/metrics_c1.prom"))
    assert(prom.contains("""kafka_overwatch_cluster_topics_count{cluster="c1"} 5"""))
  }

  test("metrics HTTP endpoint serves the latest exposition") {
    val srv = new graft.metrics.MetricsHttpServer(0).start()
    try {
      srv.update("# HELP x\nx 1\n")
      val url = new java.net.URI(s"http://localhost:${srv.boundPort}/metrics").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes())
      assert(conn.getResponseCode === 200)
      assert(conn.getContentType.startsWith("text/plain"))
      assert(body === "# HELP x\nx 1\n")
    } finally srv.stop()
  }

  test("churn feed reports the deleted topic") {
    import spark.implicits._
    val churn = ChangeFeed.topicChurn(Snapshots.watermarks(spark, TestSpark.Sf0001))
      .select("s", "change", "topic").as[(Long, String, String)].collect().toSet
    assert(churn === Set((3L, "deleted", "t_gone")))
  }
}
