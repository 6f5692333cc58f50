package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.report.ClusterReporting
import graft.sources.Snapshots
import graft.operators.{GroupAnalytics, TopicAnalytics}

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
