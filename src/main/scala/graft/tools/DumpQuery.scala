package graft.tools

/** Dev probe: dump ONE named SparkEntry query (plus its oracle SQL as a
  * single-entry oracle_sql.json) so tools/parity.py can check it in
  * isolation without a full Verify pass. Usage:
  *   runMain graft.tools.DumpQuery <sfDir> <outDir> <name> [name...] */
object DumpQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names @ _*) = args
    val spark = ToolSession()
    sys.env.get("SPARK_GRAFT_ANN_SAMPLE_MOD").foreach(m =>
      spark.conf.set(graft.functions.AtScale.AnnSampleModKey, m))
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      System.err.println(s"[dump] $n written")
    }
    // same escape loop as Verify: backslash, quote, and ALL control chars
    // — a tab/CR in oracle SQL must not emit invalid JSON for parity.py
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val json = names.filter(graft.SparkEntry.oracleSql.contains).map { n =>
      s""""$n": "${esc(graft.SparkEntry.oracleSql(n))}""""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
