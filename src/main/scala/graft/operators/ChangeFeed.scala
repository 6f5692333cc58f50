package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot change feeds (P9/P10).
  *
  * The reference mutates its object graph in place when a topic or group
  * disappears from the latest listing (kafka_overwatch/kafka_resources/
  * topics.py:64-72, groups.py:55-71). With append-only snapshots the same
  * information is a pair of anti-joins between consecutive scans — and
  * becomes a useful change feed instead of a cache-eviction side effect.
  */
object ChangeFeed {

  /** Per consecutive scan pair: entities present before and gone now
    * ("deleted"), or new now ("added"). `entity` names the column holding
    * the entity id (topic / grp). */
  def churn(snap: DataFrame, entity: String): DataFrame = {
    val present = snap.select(col("cluster"), col(entity), col("s")).distinct()
    val prevShifted = present
      .select(col("cluster"), col(entity), (col("s") + 1).as("s"))
    val deleted = prevShifted.filter(col("s") <= graft.sources.Snapshots.NumScans)
      .join(present, Seq("cluster", entity, "s"), "left_anti")
      .select(col("cluster"), col("s"), lit("deleted").as("change"), col(entity))
    val added = present.filter(col("s") > 1)
      .join(prevShifted, Seq("cluster", entity, "s"), "left_anti")
      .select(col("cluster"), col("s"), lit("added").as("change"), col(entity))
    deleted.unionByName(added)
  }

  def topicChurn(wm: DataFrame): DataFrame = churn(wm, "topic")
}
