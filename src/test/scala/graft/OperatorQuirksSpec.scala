package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Governance, GroupAnalytics, TopicAnalytics}

/** Unit tests for the SURVEY §2.10 quirk semantics on hand-built
  * micro-fixtures (Q2/Q3/Q6 and the P12 guards). */
class OperatorQuirksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // micro watermarks: topic tA has partitions 1,2 only (no partition 0 — Q2);
  // tB partition 0 has zero messages (P12 guard)
  private def microWm = Seq(
    // cluster, topic, partition_id, low, high, scan_ts, s
    ("c1", "tA", 1L, 0L, 10L, 100L, 1L), ("c1", "tA", 1L, 0L, 20L, 160L, 2L),
    ("c1", "tA", 1L, 0L, 30L, 220L, 3L),
    ("c1", "tA", 2L, 0L, 5L, 100L, 1L), ("c1", "tA", 2L, 0L, 5L, 160L, 2L),
    ("c1", "tA", 2L, 0L, 8L, 220L, 3L),
    ("c1", "tB", 0L, 0L, 0L, 100L, 1L), ("c1", "tB", 0L, 0L, 0L, 160L, 2L),
    ("c1", "tB", 0L, 0L, 0L, 220L, 3L))
    .toDF("cluster", "topic", "partition_id", "low", "high", "scan_ts", "s")

  private def microGo = Seq(
    // g1: committed=-1 on tA p1 (Q3), valid on tA p2
    ("c1", "g1", "tA", 1L, -1L, 220L, 3L),
    ("c1", "g1", "tA", 2L, 6L, 220L, 3L),
    // g2: offsets only on the zero-message topic tB (P12 skips it)
    ("c1", "g2", "tB", 0L, 0L, 220L, 3L))
    .toDF("cluster", "grp", "topic", "partition_id", "committed", "scan_ts", "s")

  private def microGd = (1 to 3).flatMap(s => Seq(
    ("c1", "g1", "STABLE", 2L, 100L + 60L * (s - 1), s.toLong),
    ("c1", "g2", "STABLE", 1L, 100L + 60L * (s - 1), s.toLong)))
    .toDF("cluster", "grp", "state", "member_count", "scan_ts", "s")

  test("Q2 fix: elapsed time works for a topic with no partition 0") {
    val t = TopicAnalytics.topicsDf(microWm, microGo, microGd)
      .filter($"name" === "tA").collect()(0)
    assert(t.getAs[Long]("eval_elapsed_time") === 120L)
    assert(t.getAs[Long]("total_messages") === 38L) // (30-0) + (8-0)
    assert(t.getAs[Long]("new_messages") === 23L)   // (30-10) + (8-5)
  }

  test("Q3 fix: committed=-1 skips that partition only, not the topic") {
    val lags = GroupAnalytics.lagRows(microWm, microGo)
      .filter($"grp" === "g1").collect()
    assert(lags.length === 1) // p1 dropped (committed<0), p2 kept
    assert(lags(0).getAs[Long]("partition_id") === 2L)
    assert(lags(0).getAs[Long]("lag") === 2L) // 8 - 6
  }

  test("P12 guard: zero-message partitions contribute no lag") {
    val g2 = GroupAnalytics.groupsDf(GroupAnalytics.lagByScan(microWm, microGo), microGd)
      .filter($"name" === "g2").collect()(0)
    assert(g2.getAs[Long]("overall_lag") === 0L)
  }

  test("Q6 guard: all-excluded governance yields null percentage, not a crash") {
    val named = Seq("t_empty1", "t_empty2").toDF("name")
    val s = Governance.summary(named,
      compliant = Seq("^[a-z]+$"), excluded = Seq("^t_empty")).collect()(0)
    assert(s.getAs[Long]("excluded_count") === 2L)
    assert(s.isNullAt(s.fieldIndex("compliant_percentage")))
  }

  test("F1: re.match anchoring — regex matches at start only") {
    val named = Seq("prod_orders", "xprod_orders").toDF("name")
    val g = Governance.governed(named,
      compliant = Seq("^prod"), excluded = Seq("^$")).collect()
    assert(g.map(r => (r.getString(0), r.getBoolean(2))).toMap ===
      Map("prod_orders" -> true, "xprod_orders" -> false))
  }

  test("F2: subject normalization is literal replace (anywhere), not suffix-only") {
    // reference uses str.replace: both markers removed wherever they occur
    val sr = Seq(("r1", "a-value-b-key", 1L, 1L, "AVRO", "{}"),
      ("r1", "orders-value", 1L, 2L, "AVRO", "{}"))
      .toDF("registry", "subject", "version", "schema_id", "schema_type", "schema_string")
    val bases = graft.operators.SchemaRegistryOps.withBaseName(sr)
      .select($"subject", $"base").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bases("a-value-b-key") === "a-b")
    assert(bases("orders-value") === "orders")
  }

  test("waste: empty category on empty input returns one zero row") {
    val empty = TopicAnalytics.topicsDf(microWm, microGo, microGd)
      .filter($"name" === "nope")
    val w = TopicAnalytics.wasteCategory(empty, TopicAnalytics.emptyPred, "empty")
      .collect()(0)
    assert(w.getAs[Long]("topics_count") === 0L)
    assert(w.getAs[Long]("topic_partitions_sum") === 0L)
  }
}
