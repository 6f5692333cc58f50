package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.SnapshotLake

/** The Spark jobs a service tick launches: a warm tick runs at most 15,
  * none of them a broadcast, and reading the snapshot lake infers no
  * schema. */
class TickJobsSpec extends AnyFunSuite {
  /** A session with its own derivations and the shared session's settings. */
  private def isolated() = {
    val ns = TestSpark.spark.newSession()
    TestSpark.spark.conf.getAll.foreach { case (k, v) =>
      if (ns.conf.isModifiable(k)) ns.conf.set(k, v)
    }
    ns
  }

  /** Polls `read` every 100 ms until two reads agree and satisfy
    * `ready`, for at most 10 s: listener events arrive asynchronously. */
  private def settled[A](read: () => A)(ready: A => Boolean): A = {
    var last = read()
    var waited = 0
    var done = false
    while (!done && waited < 10000) {
      Thread.sleep(100); waited += 100
      val now = read()
      done = now == last && ready(now)
      last = now
    }
    last
  }

  test("a warm tick runs at most 15 jobs, and busy time within its wall") {
    val s = isolated()
    val lines = Seq.newBuilder[String]
    tools.Profile.run(s, TestSpark.Sf0001, Seq("tick", "2"))(lines += _)
    val warm = new ObjectMapper().readTree(lines.result()(1))
    assert(warm.get("jobs").asInt <= 15, warm.toString)
    assert(warm.get("busy_s").asDouble > 0.0, warm.toString)
    assert(warm.get("busy_s").asDouble <= warm.get("wall_s").asDouble, warm.toString)
    SparkEntry.invalidate(s, TestSpark.Sf0001)
  }

  test("no executed tick plan contains a broadcast exchange") {
    val s = isolated()
    val dir = TestSpark.Sf0001
    val lake = java.nio.file.Files.createTempDirectory("graft-tick-jobs").toString
    SnapshotLake.write(s, dir, lake)
    // every plan the tick session executes; its listeners are the caller's
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.sparkSession ne s) plans.add(qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    graft.app.GraftApp.runCluster(s, app.ClusterConfig("c1"), dir,
      java.nio.file.Files.createTempDirectory("graft-tick-jobs-out").toString,
      ticks = 2, lakeDir = Some(lake))
    val executed = settled(() => plans.size)(_ > 0)
    assert(executed > 0, "no tick execution reached the listener")
    val broadcasts = plans.asScala.toSeq.flatMap(_.collectWithSubqueries {
      case b: BroadcastExchangeExec => b
    })
    assert(broadcasts.isEmpty, broadcasts.map(_.treeString).mkString("\n"))
    SparkEntry.invalidate(s, dir)
  }

  test("building a lake read launches no job") {
    val s: SparkSession = TestSpark.spark
    val lake = java.nio.file.Files.createTempDirectory("graft-lake-jobs").toString
    SnapshotLake.write(s, TestSpark.Sf0001, lake)
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    s.sparkContext.addSparkListener(listener)
    val sc = s.sparkContext
    try {
      sc.setJobGroup("lake-read", "building the lake reads")
      val wm = SnapshotLake.readWatermarks(s, s"$lake/watermarks")
      val go = SnapshotLake.readGroupOffsets(s, s"$lake/group_offsets")
      // a marker job: the bus delivers its start after any earlier job's
      sc.setJobGroup("lake-read-marker", "marker")
      s.range(1).collect()
      settled(() => groups.contains("lake-read-marker"))(identity)
      assert(groups.contains("lake-read-marker"), "the marker job never reached the listener")
      assert(!groups.contains("lake-read"), s"a lake read launched a job: $groups")
      assert(wm.schema === SnapshotLake.WatermarksSchema)
      assert(go.schema === SnapshotLake.GroupOffsetsSchema)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
