package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Snapshots.NumScans

/** Consumer-group lag analytics: the reference's lag join and `groups_df`.
  *
  * Reference: per-partition lag at
  * kafka_overwatch/overwatch_resources/groups.py:98-144 (J1/A3/A4);
  * groups_df at overwatch_resources/clusters.py:332-342 (P2).
  */
object GroupAnalytics {

  /** J1 at every scan: group committed offsets joined to the partition
    * watermarks of the same scan; lag = high - committed. The one lag join:
    * every lag analytic below reads it.
    *
    * Guards (P12, overwatch_resources/groups.py:111-130): partitions with
    * zero total messages are skipped, and committed < 0 ("no committed
    * offset") is skipped *per partition* — deliberately fixing quirk Q3
    * (the reference `break`s out of the whole topic).
    *
    * Scale: watermarks are tiny relative to a 100 TB offsets history, and
    * the join keys (cluster, topic, partition_id, s) prefix-align with the
    * snapshot partitioning — Catalyst broadcasts the watermark side. A
    * filter on `s` reaches both sides of the join. */
  private def partitionLag(wm: DataFrame, go: DataFrame): DataFrame =
    go.filter(col("committed") >= 0)
      .join(broadcast(wm.select(col("cluster"), col("topic"),
        col("partition_id"), col("s"), col("low"), col("high"))),
        Seq("cluster", "topic", "partition_id", "s"))
      .filter(col("high") - col("low") > 0)
      .select(col("cluster"), col("grp"), col("topic"), col("partition_id"), col("s"),
        (col("high") - col("committed")).as("lag"))

  /** J1 at the latest scan: (cluster, grp, topic, partition_id, lag). */
  def lagRows(wm: DataFrame, go: DataFrame): DataFrame =
    partitionLag(wm, go).filter(col("s") === NumScans).drop("s")

  /** Per-scan lag per (cluster, group, topic): (cluster, grp, topic, s,
    * lag, partitions_with_lag). The frame the per-(group, topic) total,
    * the lag trend and `groupsDf`'s overall lag all read, so a caller that
    * holds it (the service tick) runs the lag join once. */
  def lagByScan(wm: DataFrame, go: DataFrame): DataFrame =
    partitionLag(wm, go).groupBy(col("cluster"), col("grp"), col("topic"), col("s"))
      .agg(sum(col("lag")).as("lag"), count(lit(1)).as("partitions_with_lag"))

  /** A3: per-(group, topic) total lag (overwatch_resources/groups.py:104-141),
    * the latest-scan slice of a [[lagByScan]] frame. */
  def groupTopicLag(lagByScan: DataFrame): DataFrame =
    lagByScan.filter(col("s") === NumScans)
      .select(col("cluster"), col("grp"), col("topic"), col("lag").as("total_lag"),
        col("partitions_with_lag"))

  /** Lag TREND per (cluster, group, topic): per-scan total lag regressed
    * against the scan index — the monitoring question the reference's
    * single-scan lag join cannot answer: is this group falling behind,
    * catching up, or holding?
    *
    * The least-squares slope is computed from EXACT integer sums
    * (n·Σsy − Σs·Σy) / (n·Σs² − (Σs)²): every accumulator is a BIGINT
    * (order-free on any partitioning); the single double division at
    * the end is deterministic on every engine. Two shuffles: the per-scan
    * lag aggregation ([[lagByScan]], the frame this reads) and the
    * per-series regression aggregation (one key prefix apart). */
  def lagTrend(lagByScan: DataFrame): DataFrame = {
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    lagByScan.groupBy(col("cluster"), col("grp"), col("topic"))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("sx"), sum(col("lag")).as("sy"),
        sum(col("s") * col("s")).as("sxx"), sum(col("s") * col("lag")).as("sxy"))
      .filter(col("n") >= 2)
      .select(col("cluster"), col("grp"), col("topic"), col("n").as("scans"),
        (num.cast("double") / den.cast("double")).as("slope"),
        when(num > 0, "growing").when(num < 0, "shrinking")
          .otherwise("flat").as("trend"))
  }

  /** Per-group lag DISTRIBUTION at the latest scan: partition count and
    * exact p50/p90/max lag — the shape alerting actually wants (one hot
    * partition hides inside a healthy total). Exact percentiles are
    * order-free; [[graft.functions.AtScale]] switches them to the
    * bounded-state percentile_approx under the at-scale session conf. */
  def lagPercentiles(wm: DataFrame, go: DataFrame): DataFrame =
    lagRows(wm, go).groupBy(col("cluster"), col("grp"))
      .agg(count(lit(1)).as("partitions"),
        graft.functions.AtScale.quantile(wm, col("lag"), 0.5).as("p50_lag"),
        graft.functions.AtScale.quantile(wm, col("lag"), 0.9).as("p90_lag"),
        max(col("lag")).as("max_lag"))

  /** The reference's `groups_df`: name, members, state, eval_elapsed_time,
    * overall_lag (A4: sum over topics, overwatch_resources/groups.py:95),
    * over a [[lagByScan]] frame and the groups dimension. */
  def groupsDf(lagByScan: DataFrame, gd: DataFrame): DataFrame = {
    val overall = lagByScan.filter(col("s") === NumScans)
      .groupBy(col("cluster"), col("grp"))
      .agg(sum(col("lag")).as("overall_lag"))
    val elapsed = gd.groupBy(col("cluster"), col("grp"))
      .agg((max(col("scan_ts")) - min(col("scan_ts"))).as("eval_elapsed_time"))
    gd.filter(col("s") === NumScans)
      .join(elapsed, Seq("cluster", "grp"))
      .join(overall, Seq("cluster", "grp"), "left")
      .select(col("cluster"), col("grp").as("name"),
        col("member_count").as("members"), col("state"), col("eval_elapsed_time"),
        coalesce(col("overall_lag"), lit(0L)).as("overall_lag"))
  }
}
