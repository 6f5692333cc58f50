package graft.app

import java.util.concurrent.CompletableFuture
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ThreadLocals
import scala.util.chaining._

/** Scan/report cadence (W4/W5) — the reference's per-cluster loop
  * (kafka_overwatch/processing/clusters.py:80-122): scan every interval,
  * emit a report when the evaluation period has elapsed, sleep
  * interval - elapsed, warn on overrun.
  *
  * Clock and sleep are injected so the loop is unit-testable and the
  * engine never reads wall-clock inside query logic (SURVEY §7.4).
  */
object Scheduler {

  /** Q7 (documented extension): the reference declares
    * topic_include/exclude_regexes but never applies them; here they
    * filter the snapshot at ingest. Include list empty = include all;
    * exclude wins over include (both lists use re.match anchoring — the
    * caller provides '^'-anchored patterns). */
  def applyTopicFilters(wm: DataFrame, include: Seq[String],
                        exclude: Seq[String]): DataFrame = {
    val included =
      if (include.isEmpty) wm
      else wm.filter(include.map(r => col("topic").rlike(r)).reduce(_ || _))
    if (exclude.isEmpty) included
    else included.filter(!exclude.map(r => col("topic").rlike(r)).reduce(_ || _))
  }

  final case class TickResult(scanRan: Boolean, reportRan: Boolean,
                              sleptMillis: Long, overrunMillis: Long)

  /** One scheduler driving one cluster: call `loop` with the tick's
    * action; it runs `ticks` iterations (None = forever). */
  final class ClusterLoop(
      cluster: ClusterConfig,
      clock: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep,
      onOverrun: Long => Unit = _ => ()) {

    private var nextReportAt = Long.MinValue

    /** One tick: `run` scans, and reports when told the report is due;
      * the tick's elapsed time is taken when it returns. */
    def tick(run: Boolean => Unit): TickResult = {
      val start = clock()
      val reportRan = start >= nextReportAt
      run(reportRan)
      if (reportRan) nextReportAt = start + cluster.reporting.evaluationPeriodSeconds * 1000
      val elapsed = clock() - start
      val intervalMs = cluster.scanIntervalSeconds * 1000
      if (elapsed > intervalMs) {
        onOverrun(elapsed - intervalMs)
        TickResult(scanRan = true, reportRan, 0L, elapsed - intervalMs)
      } else {
        sleeper(intervalMs - elapsed)
        TickResult(scanRan = true, reportRan, intervalMs - elapsed, 0L)
      }
    }

    def loop(run: Boolean => Unit, ticks: Option[Int]): Unit = {
      var i = 0
      while (ticks.forall(i < _)) { tick(run); i += 1 }
    }
  }

  /** The pool one cluster loop runs its ticks' actions on, as a
    * dependency DAG per tick (`run`). It starts a thread only when every
    * thread it has is busy, and keeps its threads until `shutdown`, so it
    * holds as many threads as actions ran at once. `shutdown` returns once
    * every thread has ended. */
  final class Actions(spark: SparkSession, name: String) {
    private val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    private val pool = new java.util.concurrent.ThreadPoolExecutor(
      0, Int.MaxValue, Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      { (r: Runnable) =>
        val t = new Thread(r, s"$name-${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })

    /** One DAG of actions. `declare` declares its nodes with `after` on the
      * calling thread; each node starts on the pool once the nodes it reads
      * have completed, so independent nodes run side by side. Every node
      * runs under the Spark thread locals of the calling thread, captured
      * once when `run` starts (its job description and local properties),
      * with `spark` as its active session (a service tick passes its tick
      * session), never under those of the pool thread that completed its
      * last input. A failed node's dependents never start. `run` returns
      * once every started node has ended; it throws the own exception of
      * the first failed node in declaration order, if any, and otherwise
      * returns what `declare` returned. */
    def run[T](declare: Dag => T): T = {
      val dag = new Dag(new ThreadLocals(spark))
      val declared = scala.util.Try(declare(dag))
      dag.await()
      declared.get
    }

    final class Dag private[Actions] (locals: ThreadLocals) {
      private val nodes = scala.collection.mutable.ArrayBuffer.empty[CompletableFuture[_]]

      /** A node that runs `body` once every one of `inputs` has completed;
        * the body reads their values with `join`. */
      def after[T](inputs: CompletableFuture[_]*)(body: => T): CompletableFuture[T] =
        CompletableFuture.allOf(inputs: _*)
          .thenApplyAsync[T](_ => locals(body), pool)
          .tap(nodes += _)

      /** Waits for every node, then throws the first failed one's own
        * exception. A node skipped for a failed input fails with that
        * input's exception, and its input was declared before it. */
      private[Actions] def await(): Unit = {
        CompletableFuture.allOf(nodes.toSeq: _*).handle[Unit]((_, _) => ()).join()
        nodes.find(_.isCompletedExceptionally).foreach { node =>
          try node.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      }
    }

    def shutdown(): Unit = {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      threads.forEach(_.join())
    }
  }
}
