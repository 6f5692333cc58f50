package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The session `OffsetStream.deltasWithTtl` starts its query on: a clone
  * of the caller's session ([[SessionClones]]), whose conf and streaming
  * query listeners it copies, with two settings fixed:
  *  - `spark.sql.streaming.noDataMicroBatches.enabled=false`: a moving
  *    watermark starts no micro-batch of its own. With it on, each scan
  *    moves the TTL stream's watermark and so starts a second,
  *    eviction-only batch that emits no row; with it off the timed-out
  *    state is evicted in the next data batch, one micro-batch per scan;
  *  - `spark.sql.streaming.maxBatchesToRetainInMemory=1`: the state
  *    store keeps the loaded state of one batch in memory instead of two.
  *    With one batch per scan and two kept, the `stream_offsets`
  *    benchmark (4-core host) retained more heap than with eviction-only
  *    batches (`retained_heap_mb` 94.9 MB against 92.4 MB; 88.4 MB with
  *    this setting, STREAM_BATCHES.json). A retried batch reads the older
  *    version from the checkpoint instead.
  * The query, its progress and any memory-sink view it registers live on
  * the clone (`query.sparkSession`), not on the caller: the caller's
  * `spark.streams.active` does not list it, and a memory sink's table is
  * read through `query.sparkSession`. The caller's streaming query
  * listeners are registered on the clone, so they see its progress. One
  * clone serves every call of a caller while the caller's conf and
  * listeners stay as they were.
  */
object StreamSession {
  val Settings: Seq[(String, String)] = Seq(
    SQLConf.STREAMING_NO_DATA_MICRO_BATCHES_ENABLED.key -> "false",
    SQLConf.MAX_BATCHES_TO_RETAIN_IN_MEMORY.key -> "1")

  private val clones = new SessionClones(Settings)

  /** The stream session of `caller`. */
  def apply(caller: SparkSession): SparkSession = clones(caller)
}
