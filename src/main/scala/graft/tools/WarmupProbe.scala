package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: run SparkEntry's warmup alone and print the per-part
  * wall AND executor-time attribution — the adjudication tool for
  * warmup-growth questions (the r14 x128 artifact recorded
  * excisionSpans at 6.2x its x64 wall under the concurrent pool; this
  * probe separates the derivation's own cost from pool-neighbor
  * contention: the executor CPU map stays flat while walls wander with
  * what ran beside each derivation). The pool runs max(1, min(8,
  * cores / 4)) threads. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.WarmupProbe"
  */
object WarmupProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    val t0 = System.nanoTime()
    val graft.SparkEntry.WarmupProfile(wall, cpu, run) =
      graft.SparkEntry.warmupProfile(spark, dir)
    val makespan = (System.nanoTime() - t0) / 1e9
    val cpuMap = cpu.toMap
    val runMap = run.toMap
    println(f"[warmup_probe] makespan=$makespan%.2fs " +
      s"threads=${graft.SparkEntry.warmupThreads(spark)}")
    wall.foreach { case (n, w) =>
      println(f"[warmup_probe] $n%-20s wall=$w%8.2fs cpu=${cpuMap(n)}%8.2fs run=${runMap(n)}%8.2fs")
    }
    spark.stop()
  }
}
