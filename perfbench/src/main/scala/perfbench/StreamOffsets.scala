package perfbench

import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.OffsetStream
import graft.streaming.OffsetStream.WatermarkScan

/** Load generator for `stream_offsets`: a seeded fleet of Kafka partitions
  * on two clusters, scanned once per micro-batch (scan interval
  * `StepSeconds`). Watermarks grow at a per-partition rate, log starts
  * advance now and then, and topics churn: some are deleted for good,
  * some come back after `ReturnGap` or more scans (past the state TTL, so
  * they start a fresh baseline) and new ones appear.
  *
  * It also recomputes the expected delta rows in plain Scala: a partition
  * seen in the previous scan emits (delta, since-start, log start) against
  * its state; one seen for the first time, or back after the TTL evicted
  * it, only sets a baseline. */
final class FleetGen(seed: Long, topics: Int) {
  import FleetGen._
  private val rnd = new scala.util.Random(seed)

  private final class Part(var low: Long, var high: Long, val rate: Long)
  private final class Topic(val cluster: String, val name: String, val parts: Array[Part])

  private var created = 0
  private def newTopic(): Topic = {
    created += 1
    val n = 1 + rnd.nextInt(2 * PartitionsPerTopic - 1)
    new Topic(if (rnd.nextBoolean()) "c1" else "c2", f"t$created%05d",
      Array.fill(n)(newPart()))
  }
  private def newPart(): Part = {
    val high = rnd.nextInt(1000000).toLong
    new Part((high * rnd.nextDouble() * 0.5).toLong, high,
      if (rnd.nextInt(10) < 3) 0L else 1L + rnd.nextInt(5000))
  }

  private val live = mutable.ArrayBuffer.fill(topics)(newTopic())
  /** Deleted topics that come back at the given scan. */
  private val returning = mutable.Map[Int, mutable.ArrayBuffer[Topic]]()
  private var scan = 0

  /** Expected delta checksums per (scan_ts, cluster, topic). */
  val expected = mutable.Map[(Long, String, String), Checksum]()
  private val state = mutable.Map[(String, String, Long), (Long, Long, Long, Int)]()

  /** The next full scan of the fleet. */
  def next(): Array[WatermarkScan] = {
    if (scan > 0) churn()
    val ts = Epoch0 + scan * StepSeconds
    val rows = live.iterator.flatMap { t =>
      t.parts.iterator.zipWithIndex.map { case (p, i) =>
        WatermarkScan(t.cluster, t.name, i.toLong, p.low, p.high, ts)
      }
    }.toArray
    rows.foreach(expect(_, scan))
    scan += 1
    rows
  }

  private def churn(): Unit = {
    live.foreach(_.parts.foreach { p =>
      p.high += p.rate
      if (rnd.nextInt(20) == 0) p.low = math.min(p.high, p.low + rnd.nextInt(50000))
    })
    (0 until ChurnPerScan).foreach { _ =>
      val gone = live.remove(rnd.nextInt(live.size))
      if (rnd.nextBoolean()) {
        val back = new Topic(gone.cluster, gone.name, Array.fill(gone.parts.length)(newPart()))
        returning.getOrElseUpdate(scan + ReturnGap + rnd.nextInt(4), mutable.ArrayBuffer()) += back
      }
      live += newTopic()
    }
    returning.remove(scan).foreach(live ++= _)
  }

  private def expect(w: WatermarkScan, at: Int): Unit = {
    val key = (w.cluster, w.topic, w.partition_id)
    state.get(key) match {
      case Some((initHigh, prevHigh, first, seen)) if seen == at - 1 =>
        val firstNext = math.max(first, w.low)
        val c = expected.getOrElseUpdate((w.scan_ts, w.cluster, w.topic), new Checksum)
        c.add(w.partition_id, w.high - prevHigh, w.high - initHigh, firstNext)
        state(key) = (initHigh, w.high, firstNext, at)
      case Some((_, _, _, seen)) if at - seen < ReturnGap =>
        sys.error(s"$key returned after ${at - seen} scans, inside the TTL boundary")
      case _ =>
        state(key) = (w.high, w.high, w.low, at)
    }
  }
}

object FleetGen {
  val Epoch0 = 1700000000L
  val StepSeconds = 60L
  val PartitionsPerTopic = 20
  val ChurnPerScan = 6
  /** Scans a deleted topic stays away before it may return: 8 scans = 480 s
    * of event time, past the 180 s TTL plus the 60 s watermark delay. */
  val ReturnGap = 8

  final class Checksum {
    var rows = 0L
    var partitions = 0L
    var delta = 0L
    var sinceStart = 0L
    var firstOffset = 0L
    def add(partition: Long, d: Long, s: Long, f: Long): Unit = {
      rows += 1; partitions += partition; delta += d; sinceStart += s; firstOffset += f
    }
    def toSeq: Seq[Long] = Seq(rows, partitions, delta, sinceStart, firstOffset)
  }
}

/** Workload `stream_offsets`: micro-batches of a MemoryStream feed
  * `OffsetStream.deltasWithTtl`, which writes to a parquet sink with a
  * checkpoint, as `GraftApp.runStreaming` does. Set-up starts the query on
  * a fresh checkpoint and runs the baseline scan (repeated, see
  * [[Main.SetUpRepeats]]; the warm-up batches run on the first set-up's
  * query, the ops on the last one's). Each op adds one scan of the fleet
  * (rows built before the timer) and waits for `processAllAvailable`. The
  * sink is checked against the generator's recomputation after the
  * measured window. */
object StreamOffsets {
  val WarmOps = 7
  val Topics = 1000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val topics = ctx.opts.args.get("topics").map(_.toInt).getOrElse(Topics)
    // each set-up starts a query on a fresh checkpoint with a fresh
    // generator and runs its baseline scan, built before the timer
    final class Stream(val gen: FleetGen, val input: MemoryStream[WatermarkScan],
                       val query: StreamingQuery)
    def sinkOf(i: Int) = s"${ctx.opts.work}/stream_deltas$i"
    def setUp(i: Int): Stream = {
      val gen = new FleetGen(ctx.opts.seed, topics)
      val baseline = gen.next()
      val input = MemoryStream[WatermarkScan]
      val query = ctx.setUpRun(i) {
        val q = OffsetStream.deltasWithTtl(input.toDS())
          .writeStream.format("parquet")
          .option("checkpointLocation", s"${ctx.opts.work}/stream_checkpoint$i")
          .option("path", sinkOf(i))
          .outputMode("append").start()
        input.addData(baseline.toSeq)
        q.processAllAvailable()
        q
      }
      new Stream(gen, input, query)
    }
    var rows = 0L
    var ingest = 0.0
    def batch(s: Stream, rowsIn: Array[WatermarkScan]): Unit = {
      val (_, t) = ctx.seconds(s.input.addData(rowsIn.toSeq))
      ingest += t
      s.query.processAllAvailable()
    }
    // warm-up batches run on the first set-up's query, which is then
    // stopped; the ops run on the last one's
    var stream = setUp(0)
    try {
      (0 until ctx.opts.warmOps(WarmOps)).foreach { i =>
        val r = stream.gen.next()
        if (!ctx.warmOp(i.toString, "batch")(batch(stream, r))) {
          ctx.problems += s"warm-up batch $i failed"
        }
      }
      (1 until Main.SetUpRepeats).foreach { i =>
        stream.query.stop()
        stream = setUp(i)
      }
      ingest = 0.0
      ctx.measure { i =>
        val r = stream.gen.next()
        if (ctx.timedOp(i.toString, "batch")(batch(stream, r)).isDefined) rows += r.length
      }
    } finally stream.query.stop()
    val ops = math.max(1, ctx.attempted)
    ctx.setLayer("stream.ingest_s", ingest / ops, "s")
    ctx.setLayer("stream.rows_per_s", rows / math.max(1e-9, ctx.timed.map(_._2).sum), "rows/s")
    ctx.detail("rows_per_batch") = rows / ops
    check(ctx, sinkOf(Main.SetUpRepeats - 1), stream.gen, 1 + ctx.attempted)
  }

  /** `batches`: how many batches the checked query processed. */
  private def check(ctx: Ctx, sink: String, gen: FleetGen, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    val got = ctx.spark.read.parquet(sink)
      .groupBy("scan_ts", "cluster", "topic")
      .agg(count(lit(1)), sum("partition_id"), sum("delta"), sum("messages_since_start"),
        sum("first_offset"))
      .collect().map { r =>
        (r.getLong(0), r.getString(1), r.getString(2)) -> (3 to 7).map(r.getLong(_)).toSeq
      }.toMap
    val want = gen.expected.view.mapValues(_.toSeq).toMap
    val bad = (got.keySet ++ want.keySet).toSeq.filter(k => got.get(k) != want.get(k))
    // the file sink reports no output row count in its progress, so the
    // rows it wrote are counted here, per batch of the measured query
    ctx.setLayer("stream.sink_rows", got.values.map(_.head).sum.toDouble / batches, "count")
    ctx.detail("stream_checked_groups") = want.size
    ctx.detail("stream_delta_rows") = want.values.map(_.head).sum
    if (bad.nonEmpty) {
      ctx.problems += s"stream deltas differ from the recomputation in ${bad.size} " +
        s"(scan, topic) groups, e.g. ${bad.sorted.take(3).map(k =>
          s"$k: got ${got.get(k)} want ${want.get(k)}").mkString("; ")}"
    }
  }
}
