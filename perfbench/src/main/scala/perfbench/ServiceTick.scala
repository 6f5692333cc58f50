package perfbench

import graft.SparkEntry
import graft.app.{ClusterConfig, GraftApp}
import graft.sources.{SnapshotLake, Snapshots}

/** Workload `service_tick`: the service's own cadence in lake mode. Set-up
  * derives the snapshot tables and writes the snapshot lake, exactly as
  * `GraftApp --lake` does (repeated, see [[Main.SetUpRepeats]]); each
  * op is one `GraftApp.runCluster` tick (a scan, then a report with JSON
  * exports) on cluster c1 or c2, in an order drawn from the seed. The last
  * tick's `.prom` and report files stay in `<work>/out` for run.py's check
  * against the DuckDB oracle. */
object ServiceTick {
  val WarmOps = 1

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.opts.data
    val out = s"${ctx.opts.work}/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // each set-up derives the snapshot tables afresh and writes a new lake
    def setUp(i: Int): String = ctx.setUpRun(i) {
      val lake = s"${ctx.opts.work}/lake$i"
      SparkEntry.invalidate(spark, data)
      SnapshotLake.writeWatermarks(Snapshots.watermarks(spark, data), s"$lake/watermarks")
      SnapshotLake.writeGroupOffsets(Snapshots.groupOffsets(spark, data), s"$lake/group_offsets")
      lake
    }
    val rnd = new scala.util.Random(ctx.opts.seed)
    def cluster(): String = if (rnd.nextBoolean()) "c1" else "c2"
    var lake = setUp(0)
    def tick(c: String): Unit =
      GraftApp.runCluster(spark, ClusterConfig(c), data, out, ticks = 1, lakeDir = Some(lake))
    (0 until ctx.opts.warmOps(WarmOps)).foreach { i =>
      val c = cluster()
      if (!ctx.warmOp(i.toString, s"tick.$c")(tick(c))) ctx.problems += s"warm-up tick $i failed"
    }
    (1 until Main.SetUpRepeats).foreach(i => lake = setUp(i))
    // both clusters' files must come from the final, checked code path
    val seen = scala.collection.mutable.Set[String]()
    ctx.measure { i =>
      val c = cluster()
      if (ctx.timedOp(i.toString, s"tick.$c")(tick(c)).isDefined) seen += c
    }
    ctx.detail("clusters_ticked") = seen.toSeq.sorted
  }
}
