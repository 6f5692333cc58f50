package graft.tools

import org.apache.spark.sql.functions._

/** The distributed-CC watchdog (r14 verdict item 6 → r15): since the
  * size-gated driver union-find landed, every committed bench rung's
  * edge set sits UNDER the 500k gate, so the 100 TB path — the RDD
  * label-propagation loop — had no watched number. This probe builds a
  * deterministic synthetic edge set ABOVE the gate (mixed structure:
  * long paths for worst-case diameter, stars for hub skew, rings and
  * cross-links for merge pressure), runs BOTH paths on it, checks the
  * label assignments are identical, and writes CC_PROBE.json for the
  * repo (the LADDER_NOTES "distributed CC probe" series).
  *
  * Usage: sbt "runMain graft.tools.CcScaleProbe [nComponents]"
  *   (default 15000 components x ~45 edges ≈ 675k distinct edges —
  *    above DriverCcMaxEdges = 500k, so dedupClusters takes the RDD
  *    loop on its own; the driver reference forces the union-find with
  *    driverMaxEdges = Long.MaxValue.)
  */
object CcScaleProbe {
  def main(args: Array[String]): Unit = {
    val nComp = args.headOption.map(_.toInt).getOrElse(15000)
    val spark = ToolSession()
    import spark.implicits._

    // deterministic component zoo: component c owns ids [c*100, c*100+60)
    // — a 40-edge path, a 15-edge star off the path's middle, a ring
    // closure, and three long-range cross-links inside the component.
    // ~59 edges per component, all distinct, zero cross-component edges:
    // expected label = component base id for every member.
    val edges = spark.range(0, nComp).flatMap { c =>
      val base = c * 100L
      val path = (0L until 40L).map(i => (base + i, base + i + 1))
      val star = (41L until 56L).map(i => (base + 20, base + i))
      val ring = Seq((base + 40, base))
      val cross = Seq((base, base + 30), (base + 5, base + 35),
        (base + 10, base + 55))
      path ++ star ++ ring ++ cross
    }.toDF("doc_a", "doc_b")

    def run(label: String, maxEdges: Long): (Double, Array[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val out = graft.functions.Dedup
        .dedupClusters(edges, maxIter = 20, driverMaxEdges = maxEdges)
        .select(col("doc_id"), col("cluster_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      ((System.nanoTime() - t0) / 1e9, out)
    }
    // distributed loop first (cold), then the driver reference
    val (wallD, labelsD) = run("distributed", -1L)
    val (wallU, labelsU) = run("driver", Long.MaxValue)
    val equal = java.util.Arrays.equals(
      labelsD.map(p => p._1 * 1000003L + p._2),
      labelsU.map(p => p._1 * 1000003L + p._2))
    val wrong = labelsD.count { case (id, l) => l != (id / 100L) * 100L }
    val nEdges = edges.distinct().count()
    val line = s"""{"metric":"cc_distributed_probe","edges":$nEdges,""" +
      s""""components":$nComp,"wall_distributed_sec":${f"$wallD%.3f"},""" +
      s""""wall_driver_sec":${f"$wallU%.3f"},"labels_equal":$equal,""" +
      s""""wrong_labels":$wrong,"cpus":${ToolSession.cpus},""" +
      s""""gate_edges":${graft.functions.Dedup.DriverCcMaxEdges}}"""
    val out = new java.io.PrintWriter("CC_PROBE.json", "UTF-8")
    try out.println(line) finally out.close()
    println(line)
    assert(equal, "distributed loop and driver union-find DISAGREE")
    assert(wrong == 0, s"$wrong labels differ from the constructed truth")
    spark.stop()
  }
}
