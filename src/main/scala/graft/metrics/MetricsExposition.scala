package graft.metrics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Prometheus-style metric surface (K4 / SURVEY §2.8): the reference's
  * gauge/summary catalog (kafka_overwatch/monitoring/prometheus.py:7-75)
  * fed by the engine's metric queries and rendered in the text exposition
  * format (a public, dependency-free contract). A caller exposes the
  * string over HTTP; the engine's job ends at the document.
  */
object MetricsExposition {

  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** One gauge family from a DataFrame: label columns + one value column. */
  def gauge(name: String, help: String, df: DataFrame,
            labels: Seq[String], value: String): String =
    gaugeRows(name, help, rows(df, labels :+ value), labels, value)

  /** One gauge family from collected rows, read by column name, so that
    * several families can share one collect of the same frame. */
  private def gaugeRows(name: String, help: String, rows: Seq[Row],
                        labels: Seq[String], value: String): String = {
    val lines = rows.map { r =>
      val ls = labels
        .map(l => s"""$l="${esc(String.valueOf(r.get(r.fieldIndex(l))))}"""")
        .mkString(",")
      val v = r.get(r.fieldIndex(value)) match {
        case null => "NaN"
        case n: Number => n.toString
        case other => other.toString
      }
      if (ls.isEmpty) s"$name $v" else s"$name{$ls} $v"
    }
    (s"# HELP $name $help" +: s"# TYPE $name gauge" +: lines).mkString("\n")
  }

  /** Prometheus Summary exposition (count + sum), the format of the
    * reference's collector-latency metrics
    * (kafka_overwatch/monitoring/prometheus.py:17-28). */
  def summary(name: String, help: String, labels: Seq[(String, String)],
              count: Long, sum: Double): String = {
    val ls = labels.map { case (k, v) => s"""$k="${esc(v)}"""" }.mkString(",")
    val lbl = if (ls.isEmpty) "" else s"{$ls}"
    Seq(s"# HELP $name $help", s"# TYPE $name summary",
      s"${name}_count$lbl $count", s"${name}_sum$lbl $sum").mkString("\n")
  }

  // each frame projected to the columns its families render, as `gauge`
  // projects it, and collected once
  private def rows(df: DataFrame, names: Seq[String]): Seq[Row] =
    df.select(names.map(col): _*).collect().toSeq
  private val lagLabels = Seq("cluster", "grp", "topic")
  private val deltaLabels = Seq("cluster", "topic", "partition_id")

  /** The rows of the catalog's five frames, each collected by its own
    * function so that a caller can collect each one as soon as its frame
    * is ready; [[render]] turns them into the document. */
  def totalsRows(clusterTotals: DataFrame): Seq[Row] =
    rows(clusterTotals, Seq("cluster", "topics_count", "partitions_count",
      "consumer_groups_count"))
  def lagRows(groupTopicLag: DataFrame): Seq[Row] = rows(groupTopicLag, lagLabels :+ "total_lag")
  def srRows(srCounts: DataFrame): Seq[Row] =
    rows(srCounts, Seq("registry", "subjects_count", "schemas_count"))
  def deltaRows(partitionDeltas: DataFrame): Seq[Row] =
    rows(partitionDeltas.groupBy(deltaLabels.map(col): _*)
      .agg(max_by(col("delta"), col("scan_ts")).as("delta")), deltaLabels :+ "delta")
  def trendRows(lagTrend: DataFrame): Seq[Row] = rows(lagTrend, lagLabels :+ "slope")

  /** The reference's full cluster gauge catalog in one exposition document:
    * cluster totals (A5), per-(group, topic) lag (A3), SR counts (A11),
    * per-partition new-message deltas (W1, exposed as a gauge of the last
    * interval), then the lag-trend slope. Each frame is collected once, one
    * after another: the three cluster-total families share one collect of
    * `clusterTotals`, the two registry families one collect of
    * `srCounts`. */
  def exposition(clusterTotals: DataFrame, groupTopicLag: DataFrame,
                 srCounts: DataFrame, partitionDeltas: DataFrame,
                 lagTrend: DataFrame): String =
    render(totalsRows(clusterTotals), lagRows(groupTopicLag), srRows(srCounts),
      deltaRows(partitionDeltas), trendRows(lagTrend))

  /** The document of [[exposition]] from its five frames' collected rows. */
  def render(totals: Seq[Row], lag: Seq[Row], sr: Seq[Row], deltas: Seq[Row],
             trend: Seq[Row]): String =
    Seq(
      gaugeRows("kafka_overwatch_cluster_topics_count", "Total topics per cluster",
        totals, Seq("cluster"), "topics_count"),
      gaugeRows("kafka_overwatch_cluster_partitions_count", "Total partitions per cluster",
        totals, Seq("cluster"), "partitions_count"),
      gaugeRows("kafka_overwatch_cluster_consumer_groups_count", "Total consumer groups per cluster",
        totals, Seq("cluster"), "consumer_groups_count"),
      gaugeRows("kafka_overwatch_consumer_group_lag", "Total lag per group and topic",
        lag, lagLabels, "total_lag"),
      gaugeRows("kafka_overwatch_subjects_count", "Schema registry subjects",
        sr, Seq("registry"), "subjects_count"),
      gaugeRows("kafka_overwatch_schemas_count", "Schema registry schemas",
        sr, Seq("registry"), "schemas_count"),
      gaugeRows("kafka_overwatch_topic_partition_new_messages", "New messages in the last scan interval",
        deltas, deltaLabels, "delta"),
      // beyond the reference's catalog: the lag-trend slope (exact-integer
      // least squares over the scan history, GroupAnalytics.lagTrend) —
      // the alertable is-it-falling-behind signal
      gaugeRows("kafka_overwatch_consumer_group_lag_slope",
        "Lag least-squares slope over the scan history (positive = falling behind)",
        trend, lagLabels, "slope"))
      .mkString("\n") + "\n"
}
