package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{GroupAnalytics, TopicAnalytics}
import graft.sources.Snapshots

/** Multi-cluster correctness: one engine instance serves N clusters via
  * the cluster column (SURVEY §1.1) — analytics must neither mix clusters
  * nor depend on a single-cluster assumption. The fixture fleet is
  * NATIVELY two clusters (even-length topics on c1, odd on c2); a third
  * synthetic cluster (same topics, halved offsets) is unioned in on top,
  * and every per-cluster result must equal the clusters computed alone. */
class MultiClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def c3(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("cluster", lit("c3"))
      .withColumn("high", expr("high div 2"))
      .withColumn("low", expr("high div 8"))
  private def both = {
    val wm = Snapshots.watermarks(spark, TestSpark.Sf0001)
    wm.unionByName(c3(wm))
  }
  private def goBoth = {
    val go = Snapshots.groupOffsets(spark, TestSpark.Sf0001)
    go.unionByName(go.withColumn("cluster", lit("c3"))
      .withColumn("committed", expr("committed div 2")))
  }
  private def gdBoth = {
    val gd = Snapshots.groupsDim(spark, TestSpark.Sf0001)
    gd.unionByName(gd.filter($"cluster" === "c1").withColumn("cluster", lit("c3")))
  }

  test("topics_df per cluster equals the cluster computed alone") {
    val combined = TopicAnalytics.topicsDf(both, goBoth, gdBoth)
    val aloneNative = TopicAnalytics.topicsDf(
      Snapshots.watermarks(spark, TestSpark.Sf0001),
      Snapshots.groupOffsets(spark, TestSpark.Sf0001),
      Snapshots.groupsDim(spark, TestSpark.Sf0001))
    val fromCombined = combined.filter($"cluster".isin("c1", "c2"))
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val alone = aloneNative
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(fromCombined === alone)
    // the native fleet splits topics across both clusters (no mixing)
    assert(alone.map(_._1) === Set("c1", "c2"))
    // and c3 differs (halved offsets) but has the same topics
    val c3rows = combined.filter($"cluster" === "c3")
    assert(c3rows.count() === aloneNative.count())
    // c3 t_stale: high = 100 div 2 = 50, low = 50 div 8 = 6 -> total 44
    // (natively t_stale lives on c2 with injected low 0 -> total 100)
    assert(combined.filter($"cluster" === "c3" && $"name" === "t_stale")
      .select("total_messages").as[Long].collect()(0) === 44L)
    assert(combined.filter($"cluster" === "c2" && $"name" === "t_stale")
      .select("total_messages").as[Long].collect()(0) === 100L)
  }

  test("group lag per cluster is independent") {
    val combined = GroupAnalytics.groupsDf(GroupAnalytics.lagByScan(both, goBoth), gdBoth)
    assert(combined.select("cluster").distinct().count() === 3)
    val lag = (c: String) => combined
      .filter($"cluster" === c && $"name" === "g_active")
      .select("overall_lag").as[Long].collect()(0)
    val (l1, l2, l3) = (lag("c1"), lag("c2"), lag("c3"))
    assert(l1 > 0 && l2 > 0 && l3 > 0)
    assert(Set(l1, l2, l3).size === 3) // no cluster mixing anywhere
  }

  test("cluster totals count each cluster separately") {
    val t = TopicAnalytics.clusterTotals(both, gdBoth)
      .as[(String, Long, Long, Long)].collect().map(_._1).toSet
    assert(t === Set("c1", "c2", "c3"))
  }

  test("schema registries span the fleet and align with their clusters") {
    val sr = Snapshots.srSubjects(spark, TestSpark.Sf0001)
    // two registries, both populated (VERDICT r3 item 8)
    val perRegistry = sr.groupBy($"registry").count()
      .as[(String, Long)].collect().toMap
    assert(perRegistry.keySet === Set("sr1", "sr2"))
    assert(perRegistry.values.forall(_ > 0))
    // J5 linkage: every derived (-value) subject whose base topic exists
    // sits on the registry serving that topic's cluster (sr1<->c1,
    // sr2<->c2)
    val topics = Snapshots.watermarks(spark, TestSpark.Sf0001)
      .select($"topic", $"cluster").distinct()
    val misfiled = graft.operators.SchemaRegistryOps.withBaseName(sr)
      .join(topics, $"base" === $"topic")
      .filter(($"registry" === "sr1") =!= ($"cluster" === "c1"))
      .count()
    assert(misfiled === 0L)
    // SR analytics group per registry without mixing
    val counts = graft.operators.SchemaRegistryOps.counts(sr,
      Snapshots.watermarks(spark, TestSpark.Sf0001)
        .filter($"s" === Snapshots.NumScans))
    assert(counts.count() === 2)
  }
}
