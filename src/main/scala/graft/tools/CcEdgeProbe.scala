package graft.tools

import org.apache.spark.sql.functions._

/** Adjudication probe (r15): size and trace the warmup dedupClusters
  * input at a rung — distinct undirected jaccard-0.3 edge count, node
  * count, and the CC loop's per-round trace (SPARK_GRAFT_CC_TRACE=1
  * upstream) — so a super-linear warmup_cpu step can be attributed to
  * input growth vs loop behavior. Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf_x64 sbt "runMain graft.tools.CcEdgeProbe"
  */
object CcEdgeProbe {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val pairs = graft.functions.Dedup.scoredShinglePairs(docs)
      .filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b")).persist()
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9
    val nNodes = pairs.select(explode(array(col("doc_a"), col("doc_b"))))
      .distinct().count()
    println(f"[cc_edge] dir=$dir pairs=$nPairs nodes=$nNodes pairsBuild=$tPairs%.1fs")
    val t1 = System.nanoTime()
    val labels = graft.functions.Dedup.dedupClusters(pairs)
    val nClusters = labels.filter(col("keep")).count()
    println(f"[cc_edge] cc_wall=${(System.nanoTime() - t1) / 1e9}%.1fs clusters=$nClusters")
    spark.stop()
  }
}
