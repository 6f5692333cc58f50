package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry.warmupAttributed after the r14 concurrency change (optimization
  * guide §2.6 — warmup derivations submitted from a bounded pool with
  * explicit dependency edges): the warmup must still materialize every
  * shared derivation exactly once, return one positive timing per
  * derivation in the canonical order, and leave the memo families
  * populated — regardless of the concurrency level. */
object WarmupSpec {
  /** The warmup's derivations in canonical report order. */
  val Names = Seq("topicsDf", "groupsDf", "srSubjects",
    "topicConfigs", "scoredPairs", "dedupClusters", "scoredBucketPairs",
    "minhashCandidates", "incrementalIndex", "incAdmissions",
    "incNgramIndex", "bm25TopK", "dupRuns", "excisionSpans",
    "boilerSpans", "pcaDirections", "ivfCentroids", "dedupIvfCentroids",
    "bpeMerges", "pqCodebook", "pqSubCodebooks", "opqCodebooks")
}

class WarmupSpec extends AnyFunSuite {
  import WarmupSpec.Names

  test("concurrent warmup times every derivation and fills the memos") {
    // isolated session: this suite's memo churn must not touch suites
    // sharing TestSpark's session
    val s = {
      val ns = TestSpark.spark.newSession()
      TestSpark.spark.conf.getAll.foreach { case (k, v) =>
        if (ns.conf.isModifiable(k)) ns.conf.set(k, v)
      }
      ns
    }
    val dir = TestSpark.Sf0001
    val (timings, cpu) = SparkEntry.warmupAttributed(s, dir)
    assert(timings.map(_._1) == Names,
      "warmup must report the canonical derivation order")
    timings.foreach { case (n, sec) =>
      assert(sec > 0.0, s"warmup part $n reported non-positive time $sec")
    }
    // the protocol-4 CPU attribution: canonical order, non-negative
    // (a derivation that only reuses another memo legitimately reports
    // 0 executor time), and the run as a whole attributed SOME executor
    // time — the contention-free map BenchLadderSpec's per-part growth
    // bound reads from protocol 4 on
    assert(cpu.map(_._1) == Names,
      "warmup CPU attribution must report the canonical derivation order")
    cpu.foreach { case (n, sec) =>
      assert(sec >= 0.0, s"warmup part $n reported negative CPU time $sec")
    }
    assert(cpu.map(_._2).sum > 0.0,
      "warmup attributed zero executor time across every derivation")
    // the memo families are populated (same probe as CacheLifecycleSpec)
    assert(SparkEntry.cachedFrames(s, dir).nonEmpty)
    // a query over the warmed memos still answers (no half-built state
    // left by a concurrent build)
    assert(SparkEntry.queries("q_incremental_dedup")(s, dir).count() > 0)
    SparkEntry.invalidate(s, dir)
  }
}
