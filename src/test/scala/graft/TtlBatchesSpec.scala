package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.StreamSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.OffsetStream
import graft.streaming.OffsetStream.{PartitionDelta, WatermarkScan}

/** `OffsetStream.deltasWithTtl` runs one micro-batch per scan: a moving
  * watermark starts no eviction-only batch, the TTL evicts in the next
  * data batch, and the rows are those of the delta/TTL state machine. */
class TtlBatchesSpec extends AnyFunSuite {
  import TtlBatchesSpec._

  test("one micro-batch per scan, same rows, eviction inside a data batch") {
    val s = TestSpark.spark.newSession()
    val confBefore = s.conf.getAll
    val progress = new AtomicInteger
    val terminated = new CountDownLatch(1)
    val listener = new Listener {
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    s.streams.addListener(listener)
    val scans = fleet(ReturnAt)
    try {
      val (batches, got) = feed(s, scans)
      // one batch per scan, each with the scan's rows: a moving watermark
      // starts no batch of its own
      assert(batches.map(_.numInputRows) === scans.map(_.size.toLong))
      assert(batches.exists(_.stateOperators.exists(_.numRowsRemoved > 0)),
        "the TTL must evict inside a data batch")

      assert(sorted(got) === sorted(recompute(scans)))
      // the returning partition starts a fresh baseline: no row for the
      // scan it comes back in, a since-start delta from there on
      val back = got.filter(d => d.topic == "churn" && d.partition_id == 0L)
      assert(back.map(_.scan_ts).sorted === (1 +: (ReturnAt + 1 until Scans)).map(ts))
      assert(back.find(_.scan_ts == ts(ReturnAt + 1)).get.messages_since_start === Rate)

      // the caller's listener hears every batch of the stream session's
      // query; the terminated event follows its last progress event
      assert(terminated.await(30, TimeUnit.SECONDS))
      assert(progress.get === scans.size)
      assert(s.conf.getAll === confBefore)
    } finally s.streams.removeListener(listener)
  }

  test("a partition back in the batch that evicts it keeps its baseline") {
    // last seen at scan 1 (timeout ts(1) + TTL), the watermark passes it
    // in batch 7 (ts(6) - delay): back at scan 7, its data comes first
    val scans = fleet(returnAt = 7)
    val (_, got) = feed(TestSpark.spark.newSession(), scans)
    val back = got.filter(d => d.topic == "churn" && d.partition_id == 0L)
    assert(back.map(_.scan_ts).sorted === (1 +: (7 until Scans)).map(ts))
    assert(back.find(_.scan_ts == ts(7)).get.delta === 1000L - (100L + Rate))
  }

  test("a streaming listener added to the caller reaches its next stream session") {
    val s = TestSpark.spark.newSession()
    val first = StreamSession(s)
    assert(StreamSession(s) eq first)
    val listener = new Listener
    s.streams.addListener(listener)
    try {
      val next = StreamSession(s)
      assert(next ne first)
      assert(next.streams.listListeners().toSeq === Seq(listener))
      StreamSession.Settings.foreach { case (k, v) => assert(next.conf.get(k) === v) }
      assert(StreamSession.Settings.forall { case (k, v) => !s.conf.getOption(k).contains(v) })
    } finally s.streams.removeListener(listener)
  }
}

object TtlBatchesSpec {
  val DelaySeconds = 60L
  val TtlSeconds = 180L
  val StepSeconds = 60L
  val Scans = 12
  val Rate = 7L
  /** `churn`/0 is seen in scans 0 and 1, then missing until `ReturnAt`:
    * 420 s after it was last seen, past TTL plus delay plus one scan, so
    * the TTL has evicted it in an earlier data batch. */
  val ReturnAt = 8

  class Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def ts(scan: Int): Long = 1700000000L + scan * StepSeconds

  /** Two topics of three partitions that every scan sees, and `churn`'s
    * two partitions, of which partition 0 leaves after scan 1 and comes
    * back at `returnAt`. Highs grow by `Rate` (partition 0 of `churn`
    * from 1000 when it comes back), log starts move every third scan. */
  def fleet(returnAt: Int): Seq[Seq[WatermarkScan]] = (0 until Scans).map { i =>
    val steady = for { t <- Seq("a", "b"); p <- 0L until 3L }
      yield WatermarkScan("c1", t, p, (i / 3) * 5L + p, 500L * p + Rate * i, ts(i))
    val churn0 =
      if (i <= 1) Seq(WatermarkScan("c1", "churn", 0L, 0L, 100L + Rate * i, ts(i)))
      else if (i >= returnAt)
        Seq(WatermarkScan("c1", "churn", 0L, 0L, 1000L + Rate * (i - returnAt), ts(i)))
      else Nil
    steady ++ churn0 :+ WatermarkScan("c1", "churn", 1L, 3L, 40L + Rate * i, ts(i))
  }

  /** Feeds one micro-batch per scan through `deltasWithTtl` into a parquet
    * sink with a checkpoint; returns the query's progress and the sink. */
  def feed(s: SparkSession, scans: Seq[Seq[WatermarkScan]])
      : (Seq[StreamingQueryProgress], Seq[PartitionDelta]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl-batches").toString
    val input = MemoryStream[WatermarkScan]
    // the first scan is there before the start: a query that starts on
    // an empty source reports one progress event without a batch
    input.addData(scans.head)
    val q = OffsetStream.deltasWithTtl(input.toDS(), s"$DelaySeconds seconds", TtlSeconds)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/checkpoint")
      .option("path", s"$dir/sink")
      .outputMode("append").start()
    val progress = try {
      q.processAllAvailable()
      scans.tail.foreach { scan => input.addData(scan); q.processAllAvailable() }
      q.recentProgress.toSeq
    } finally q.stop()
    (progress, s.read.parquet(s"$dir/sink").as[PartitionDelta].collect().toSeq)
  }

  /** The delta/TTL state machine in plain Scala: a partition seen in the
    * previous scan emits (delta, since start, log start); one seen for
    * the first time, or after more than TTL plus delay plus a scan, sets
    * a baseline. */
  def recompute(scans: Seq[Seq[WatermarkScan]]): Seq[PartitionDelta] = {
    // (init high, previous high, log start, last seen)
    val state = scala.collection.mutable.Map[(String, String, Long), (Long, Long, Long, Long)]()
    scans.flatten.flatMap { w =>
      val key = (w.cluster, w.topic, w.partition_id)
      state.get(key).filter(_._4 >= w.scan_ts - (TtlSeconds + DelaySeconds + StepSeconds)) match {
        case Some((init, prev, first, _)) =>
          val firstNext = math.max(first, w.low)
          state(key) = (init, w.high, firstNext, w.scan_ts)
          Some(PartitionDelta(w.cluster, w.topic, w.partition_id, w.scan_ts,
            w.high - prev, w.high - init, firstNext))
        case None =>
          state(key) = (w.high, w.high, w.low, w.scan_ts)
          None
      }
    }
  }

  def sorted(ds: Seq[PartitionDelta]): Seq[PartitionDelta] =
    ds.sortBy(d => (d.scan_ts, d.cluster, d.topic, d.partition_id))
}
