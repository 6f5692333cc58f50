package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of the watermark-delta analytics (SURVEY §2.9).
  *
  * The reference is a hand-rolled micro-batch poller: each scan updates
  * per-partition mutable state (init_end_offset / previous offset /
  * first_offset) held in process memory and lost on restart
  * (kafka_overwatch/overwatch_resources/topics.py:32-45,77-100). Here the
  * same state machine is a `flatMapGroupsWithState` keyed by
  * (cluster, topic, partition) — checkpointable, resumable, and sharded
  * across executors by the state-store. Each incoming micro-batch of
  * watermark scans emits the per-scan delta rows (metric W1), the
  * since-start delta (W2), and the tracked log-start offset (W3).
  *
  * State cardinality = live (cluster, topic, partition) keys; deleted
  * topics age out via the event-time timeout (the reference's P9/P10 tidy
  * logic, reborn as state TTL).
  */
object OffsetStream extends Serializable {

  case class WatermarkScan(cluster: String, topic: String, partition_id: Long,
                           low: Long, high: Long, scan_ts: Long)

  /** The reference Partition object, relationalized:
    * init high (baseline), previous high, and the log-start watermark. */
  case class OffsetState(initHigh: Long, prevHigh: Long, firstOffset: Long)

  case class PartitionDelta(cluster: String, topic: String, partition_id: Long,
                            scan_ts: Long, delta: Long, messages_since_start: Long,
                            first_offset: Long)

  def updateKey(key: (String, String, Long), scans: Iterator[WatermarkScan],
                state: GroupState[OffsetState]): Iterator[PartitionDelta] = {
    val ordered = scans.toSeq.sortBy(_.scan_ts)
    var st = state.getOption.orNull
    val out = Seq.newBuilder[PartitionDelta]
    ordered.foreach { w =>
      if (st == null) {
        // first observation: baseline frozen, no delta emitted yet
        st = OffsetState(w.high, w.high, w.low)
      } else {
        val next = OffsetState(st.initHigh, w.high, math.max(st.firstOffset, w.low))
        out += PartitionDelta(key._1, key._2, key._3, w.scan_ts,
          w.high - st.prevHigh, w.high - st.initHigh, next.firstOffset)
        st = next
      }
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Stream (or batch) of watermark scans -> per-scan delta rows. Works on
    * both a streaming Dataset (stateful across micro-batches) and a batch
    * Dataset (one pass). */
  def deltas(scans: Dataset[WatermarkScan]): Dataset[PartitionDelta] = {
    import scans.sparkSession.implicits._
    scans.groupByKey(w => (w.cluster, w.topic, w.partition_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(updateKey)
  }

  /** TTL variant — the reference's deleted-topic tidy (P9/P10,
    * kafka_overwatch/kafka_resources/topics.py:64-72) as event-time state
    * timeout: a partition unseen for `ttlSeconds` of event time has its
    * state evicted, so a later reappearance starts a fresh baseline
    * (and state size tracks the LIVE topic set, not history). */
  def deltasWithTtl(scans: Dataset[WatermarkScan],
                    watermarkDelay: String = "60 seconds",
                    ttlSeconds: Long = 180L): Dataset[PartitionDelta] = {
    import scans.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val withTs = scans
      .withColumn("event_ts", timestamp_seconds(col("scan_ts")))
      .withWatermark("event_ts", watermarkDelay)
      .as[WatermarkScan]
    def update(key: (String, String, Long), it: Iterator[WatermarkScan],
               state: GroupState[OffsetState]): Iterator[PartitionDelta] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val scans = it.toSeq
        val out = updateKey(key, scans.iterator, state)
        if (state.exists && scans.nonEmpty)
          // anchor the TTL on this key's own latest observation: it fires
          // once the watermark moves ttl past the last time we saw it
          state.setTimeoutTimestamp(scans.map(_.scan_ts).max * 1000 + ttlSeconds * 1000)
        out
      }
    }
    withTs.groupByKey(w => (w.cluster, w.topic, w.partition_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
