package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale proof-point for the sketch dedup path: grow the corpus K-fold and
  * measure that band-key selectivity holds — candidates/doc stays ~flat
  * (linear total candidates) instead of quadratic, and pair/cluster
  * runtimes scale ~linearly.
  *
  * The scaled corpus preserves duplicate DENSITY without inventing
  * cross-replica duplicates: replica r maps every letter through a
  * seeded random alphabet permutation (`translate`), so each replica is
  * isomorphic to the original corpus (a bijection on characters preserves
  * every shingle-set relationship, hence the dup structure) while sharing
  * essentially no 5-char shingle VALUES with other replicas — a shared
  * value needs the corpus to contain both s and (perm_b^-1 . perm_a)(s),
  * vanishingly rare for random permutations where it is common for plain
  * rotations (English is full of rotation-related fragments). A naive
  * copy-K-times corpus would instead turn every document into a K-clique
  * of near-dups and prove nothing about selectivity — the growth it shows
  * is real duplication, not index fan-out.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.ScaleProof"
  * Output: one line per K with docs, candidates, candidates/doc, pairs,
  * sketch-pair runtime, cluster runtime — recorded in NOTES.md.
  */
object ScaleProof {

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** K disjoint isomorphic replicas (r = 0 is the identity — byte-equal
    * to the input corpus). doc_id offset keeps ids unique per replica. */
  def scaled(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= Alphabet.length, s"k out of range: $k")
    val replicas = (0 until k).map { r =>
      val perm =
        if (r == 0) Alphabet // identity replica: byte-equal to the input
        else new scala.util.Random(77001L + r)
          .shuffle(Alphabet.toList).mkString
      docs.select(
        (col("doc_id") + lit(r.toLong * 100000000L)).as("doc_id"),
        translate(col("text"), Alphabet, perm).as("text"))
    }
    replicas.reduce(_ unionByName _)
  }

  /** K disjoint user-offset replicas of the events table: per-replica
    * as-of/session/anomaly structure is identical (same per-user event
    * sequences under shifted ids), so runtimes should scale ~linearly
    * in total events with NO cross-replica interaction. */
  def scaledEvents(ev: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k out of range: $k")
    val replicas = (0 until k).map { r =>
      ev.select((col("user_id") + lit(r.toLong * 1000000L)).as("user_id"),
        (col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
        col("ts"), col("event_type"), col("value"), col("epoch_s"))
    }
    replicas.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    println(f"${"k"}%3s ${"docs"}%8s ${"candidates"}%12s ${"cand/doc"}%9s " +
      f"${"pairs"}%8s ${"xrep"}%6s ${"pairs_s"}%8s ${"cluster_s"}%10s " +
      f"${"dupchunk%"}%9s ${"chunk_s"}%8s ${"testdocs"}%8s ${"cont_s"}%7s")
    args.headOption.getOrElse("1,4,20").split(",").map(_.trim.toInt).foreach { k =>
      val corpus = scaled(docs, k).localCheckpoint() // isolate scaling cost
      val nDocs = corpus.count()
      val cand = graft.functions.Sketches.minHashBandCandidates(corpus).count()
      val t0 = System.nanoTime()
      val pairs = graft.functions.Sketches.minHashPairs(corpus, threshold = 0.3)
        .localCheckpoint()
      val nPairs = pairs.count()
      val xrep = pairs.filter(
        expr("doc_a div 100000000 <> doc_b div 100000000")).count()
      val t1 = System.nanoTime()
      graft.functions.Dedup.dedupClusters(pairs).count()
      val t2 = System.nanoTime()
      // chunk-level exact dedup: the per-replica bijection preserves
      // chunk equality within a replica and (approximately) never
      // creates it across replicas, so the dup-chunk RATE should stay
      // flat while runtime scales ~linearly
      val cd = graft.functions.TextAnalytics.chunkDedup(corpus)
        .agg(sum(col("dup_chunks")).as("d"), sum(col("n_chunks")).as("n"))
        .collect()(0)
      val t3 = System.nanoTime()
      val dupFrac = cd.getAs[Long]("d").toDouble / cd.getAs[Long]("n")
      // contamination: the Bloom prefilter is a CONSTANT 1 MiB at every
      // K (collected like IVF centroids); what must scale linearly is
      // the runtime and the test-doc row count — and does
      val nTest = graft.functions.TextAnalytics.contamination(corpus).count()
      val t4 = System.nanoTime()
      println(f"$k%3d $nDocs%8d $cand%12d ${cand.toDouble / nDocs}%9.2f " +
        f"$nPairs%8d $xrep%6d ${(t1 - t0) / 1e9}%8.2f ${(t2 - t1) / 1e9}%10.2f " +
        f"${dupFrac * 100}%8.2f%% ${(t3 - t2) / 1e9}%8.2f $nTest%8d ${(t4 - t3) / 1e9}%7.2f")
    }
    spark.stop()
  }
}
