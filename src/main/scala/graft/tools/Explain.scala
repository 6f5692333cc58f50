package graft.tools

/** Dev tool: dump formatted physical plans for selected queries so the
  * shuffle/broadcast/pushdown shape can be reviewed.
  * Usage: runMain graft.tools.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n================ $n ================")
      graft.SparkEntry.queries(n)(spark, dir).explain(mode)
    }
    spark.stop()
  }
}
