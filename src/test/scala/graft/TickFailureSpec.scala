package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.app.{ClusterConfig, GraftApp, ReportingConfig}
import graft.sources.{SnapshotLake, Snapshots}

/** A service tick whose export fails: the failure ends `runCluster`, and
  * what the tick's other actions do still happens. */
class TickFailureSpec extends AnyFunSuite {
  test("a failing export fails runCluster with its own exception; the gauges are still written") {
    val dir = TestSpark.Sf0001
    val s = TestSpark.spark.newSession()
    TestSpark.spark.conf.getAll.foreach { case (k, v) =>
      if (s.conf.isModifiable(k)) s.conf.set(k, v)
    }
    val lake = java.nio.file.Files.createTempDirectory("graft-lake").toString
    SnapshotLake.write(s, dir, lake)
    // the snapshot declarations a tick reads, so that only a tick's own
    // checkpoints are new persistent RDDs
    Seq(Snapshots.watermarks(s, dir), Snapshots.groupOffsets(s, dir),
      Snapshots.groupsDim(s, dir), Snapshots.srSubjects(s, dir),
      Snapshots.srRegistryCounts(s, dir)).foreach(_.count())
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    val out = java.nio.file.Files.createTempDirectory("graft-tick-failure").toString
    val xml = ClusterConfig("c1", reporting = ReportingConfig(exportsFormats = Seq("xml")))

    val thrown = intercept[IllegalArgumentException](
      GraftApp.runCluster(s, xml, dir, out, ticks = 1, lakeDir = Some(lake)))
    assert(thrown.getMessage.contains("xml"), thrown.getMessage)
    val prom = java.nio.file.Paths.get(s"$out/metrics_c1.prom")
    assert(java.nio.file.Files.exists(prom), "the failed tick wrote no .prom")
    assert(java.nio.file.Files.readString(prom)
      .contains("# TYPE kafka_overwatch_cluster_topics_count gauge"))
    // the report JSON does not read the exports
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/report_c1.json")))
    assert(s.sparkContext.getPersistentRDDs.keySet.toSet -- before === Set.empty,
      "a tick checkpoint outlived the failed runCluster")
    val poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-tick-"))
    assert(poolThreads.isEmpty, s"pool threads left alive: $poolThreads")
  }
}
