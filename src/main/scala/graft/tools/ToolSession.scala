package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session every tool main runs on: `SPARK_GRAFT_CPUS` cores
  * (the host's core count when unset) and as many shuffle partitions,
  * UTC session time, no UI, ERROR logging. */
private[graft] object ToolSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
