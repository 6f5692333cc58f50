package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.report.ClusterReporting
import graft.sources.Snapshots
import graft.operators.{Governance, GroupAnalytics, TopicAnalytics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.{col, lit}

/** Report-contract test: the emitted JSON carries the reference's field
  * names and nesting (kafka_overwatch/specs/report.json). */
class ReportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def json: String = {
    val dir = TestSpark.Sf0001
    val wm = Snapshots.watermarks(spark, dir)
    val go = Snapshots.groupOffsets(spark, dir)
    val gd = Snapshots.groupsDim(spark, dir)
    val topics = TopicAnalytics.topicsDf(wm, go, gd)
    val groups = GroupAnalytics.groupsDf(GroupAnalytics.lagByScan(wm, go), gd)
    val rpt = ClusterReporting.clusterReport("c1", topics, groups,
      Snapshots.srSubjects(spark, dir), wm,
      java.time.Instant.ofEpochSecond(1700000180L))
    ClusterReporting.reportJson(rpt)
  }

  test("report JSON carries the reference contract fields") {
    val j = json
    val required = Seq(
      "\"cluster\"", "\"cluster_name\"", "\"metadata\"", "\"timestamp\"",
      "\"governance\"", "\"topic_naming_convention\"",
      "\"consumer_group_naming_convention\"", "\"compliant_percentage\"",
      "\"non_compliant_resources\"",
      "\"statistics\"", "\"topics\"", "\"partitions\"",
      "\"most_active_topics\"", "\"consumer_groups\"",
      "\"estimated_waste\"", "\"topic_categories\"",
      "\"no_messages\"",
      "\"no_active_cg_no_messages_topics_with_multiple_partitions\"",
      "\"no_cgs_and_no_new_messages\"",
      "\"topics_count\"", "\"topic_partitions_sum\"", "\"cluster_percentage\"",
      "\"schema_registry\"", "\"subjects_count\"", "\"schemas_count\"",
      "\"schemas_estimates\"", "\"detected_unused\"", "\"detected_unused_count\"")
    required.foreach(f => assert(j.contains(f), s"missing $f in $j"))
  }

  test("report waste categories carry the reference descriptions and timestamps are injected") {
    val j = json
    assert(j.contains("All the topics with no messages."))
    assert(j.contains("2023-11-14T22:16:20.000000"))
    // Q4 extension: consumer_groups populated
    assert(j.contains("\"active\"") && j.contains("\"inactive\""))
  }

  /** The report's JSON assembled over the three collected fragment rows,
    * as a service tick assembles it, and as `clusterReport` builds it. */
  private def bothWays(topics: DataFrame, groups: DataFrame,
                       topicRules: (Seq[String], Seq[String]),
                       groupRules: (Seq[String], Seq[String])): (String, String) = {
    val dir = TestSpark.Sf0001
    val sr = Snapshots.srSubjects(spark, dir)
    val wm = Snapshots.watermarks(spark, dir).filter(col("s") === Snapshots.NumScans)
    val now = java.time.Instant.ofEpochSecond(1700000180L)
    val rows = Seq(
      ClusterReporting.topicFragment(topics, topicRules._1, topicRules._2),
      ClusterReporting.groupFragment(groups, groupRules._1, groupRules._2),
      ClusterReporting.srFragment(sr, wm)).map(_.collect()(0))
    val assembled = ClusterReporting.assemble("c1", now, ClusterReporting.fragments(spark, rows))
    // folded into a local relation: collecting the report runs no job
    assert(assembled.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      assembled.queryExecution.executedPlan.treeString)
    (ClusterReporting.reportJson(assembled),
      ClusterReporting.reportJson(ClusterReporting.clusterReport("c1", topics, groups, sr, wm,
        now, topicRules._1, topicRules._2, groupRules._1, groupRules._2)))
  }

  private def tables(): (DataFrame, DataFrame) = {
    val dir = TestSpark.Sf0001
    val wm = Snapshots.watermarks(spark, dir)
    val go = Snapshots.groupOffsets(spark, dir)
    val gd = Snapshots.groupsDim(spark, dir)
    // held, as a tick holds them, so both ways read the same rows
    (TopicAnalytics.topicsDf(wm, go, gd).localCheckpoint(),
      GroupAnalytics.groupsDf(GroupAnalytics.lagByScan(wm, go), gd).localCheckpoint())
  }

  private val Defaults = (Governance.DefaultCompliant, Governance.DefaultExcluded)
  private val GroupDefaults = (Governance.DefaultGroupCompliant, Governance.DefaultGroupExcluded)

  test("the report assembled from its fragment rows is clusterReport's, byte for byte") {
    val (topics, groups) = tables()
    val (assembled, direct) = bothWays(topics, groups, Defaults, GroupDefaults)
    assert(assembled === direct)
    assert(assembled.contains("\"most_active_topics\":{\""), assembled)
  }

  test("fragments assemble clusterReport's JSON under custom governance rules") {
    val (topics, groups) = tables()
    val (assembled, direct) = bothWays(topics, groups,
      (Seq("^[a-z_]+$", "^t_"), Seq("^t_stale")), (Seq("^g_"), Seq("^g_empty", "^g_mixed")))
    assert(assembled === direct)
    assert(assembled !== bothWays(topics, groups, Defaults, GroupDefaults)._1)
  }

  test("fragments assemble clusterReport's JSON over an empty topics table") {
    val (topics, groups) = tables()
    val (assembled, direct) = bothWays(topics.filter(lit(false)), groups, Defaults, GroupDefaults)
    assert(assembled === direct)
    assert(assembled.contains("\"topics\":0,"), assembled)
  }

  test("exportDf writes csv and json") {
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    val topics = TopicAnalytics.topicsDf(
      Snapshots.watermarks(spark, TestSpark.Sf0001),
      Snapshots.groupOffsets(spark, TestSpark.Sf0001),
      Snapshots.groupsDim(spark, TestSpark.Sf0001))
    ClusterReporting.exportDf(topics, out, "topics")
    assert(spark.read.option("header", "true").csv(s"$out/topics.csv").count() === topics.count())
    assert(spark.read.json(s"$out/topics.json").count() === topics.count())
  }
}
