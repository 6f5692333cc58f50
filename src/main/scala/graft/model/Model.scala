package graft.model

/** Typed row models for the snapshot and analytic tables (SURVEY §7.1) —
  * case classes with Encoders so pipelines that benefit from compile-time
  * field checks can run on Dataset[T] instead of DataFrame. The column
  * names match the DataFrame layer one-for-one; `TypedViews` converts.
  */
final case class PartitionWatermark(cluster: String, topic: String,
    partition_id: Long, low: Long, high: Long, scan_ts: Long, s: Long)

final case class GroupOffset(cluster: String, grp: String, topic: String,
    partition_id: Long, committed: Long, scan_ts: Long, s: Long)

final case class GroupDescription(cluster: String, grp: String, state: String,
    member_count: Long, scan_ts: Long, s: Long)

final case class SrSubject(registry: String, subject: String, version: Long,
    schema_id: Long, schema_type: String, schema_string: String)

/** The reference's topics_df row (overwatch_resources/clusters.py:315-329). */
final case class TopicStats(cluster: String, name: String, partitions: Long,
    total_messages: Long, new_messages: Long, eval_elapsed_time: Long,
    consumer_groups: Long, active_groups: Long, messages_per_seconds: Long)

/** The reference's groups_df row (overwatch_resources/clusters.py:332-342). */
final case class GroupStats(cluster: String, name: String, members: Long,
    state: String, eval_elapsed_time: Long, overall_lag: Long)

object TypedViews {
  import org.apache.spark.sql.{Dataset, SparkSession}
  import graft.SparkEntry
  import graft.sources.Snapshots

  def watermarks(spark: SparkSession, dir: String): Dataset[PartitionWatermark] = {
    import spark.implicits._
    Snapshots.watermarks(spark, dir).as[PartitionWatermark]
  }

  def groupOffsets(spark: SparkSession, dir: String): Dataset[GroupOffset] = {
    import spark.implicits._
    Snapshots.groupOffsets(spark, dir).as[GroupOffset]
  }

  def groups(spark: SparkSession, dir: String): Dataset[GroupDescription] = {
    import spark.implicits._
    Snapshots.groupsDim(spark, dir).as[GroupDescription]
  }

  def srSubjects(spark: SparkSession, dir: String): Dataset[SrSubject] = {
    import spark.implicits._
    Snapshots.srSubjects(spark, dir).as[SrSubject]
  }

  /** topics_df as the shared declaration holds it. */
  def topicStats(spark: SparkSession, dir: String): Dataset[TopicStats] = {
    import spark.implicits._
    SparkEntry.topicsDf(spark, dir).as[TopicStats]
  }

  /** groups_df as the shared declaration holds it. */
  def groupStats(spark: SparkSession, dir: String): Dataset[GroupStats] = {
    import spark.implicits._
    SparkEntry.groupsDf(spark, dir).as[GroupStats]
  }
}
