package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive scan widening (guide §2.5 "input skew: one huge
  * unsplittable file… repartition immediately after the read").
  *
  * The driver's fixture tables are single-file, SINGLE-ROW-GROUP
  * parquet, so every scan plans exactly ONE task regardless of core
  * count — and everything Catalyst fuses into the scan stage (the
  * polyhash/tokenize explosions, filter+project chains, partial
  * aggregates) runs on one core while the other defaultParallelism-1
  * idle. Measured at sf0.1/local[32]: the calibration shingle pass
  * alone was 1.9 s wall == 1.8 s task time (a one-task stage).
  *
  * The fix is an exchange immediately after the read, ONLY when the
  * native scan width under-fills the session: `native >= cores` is the
  * common case at any real scale (a 100 TB table plans orders of
  * magnitude more splits than the cluster has slots) and returns the
  * frame UNCHANGED — no exchange, no cost. In the degenerate case the
  * exchange carries the small file's bytes exactly once, round-robin
  * for balance (deterministic under retry via Spark's
  * sortBeforeRepartition default). Width = the session's
  * defaultParallelism, so the driver's lower-core scaling run widens
  * proportionally — nothing is tuned to local[32].
  *
  * Results are distribution-independent: every declared query
  * aggregates, joins, or windows on explicit keys with explicit
  * tiebreaks (the DuckDB parity gate re-proven over all 155 queries at
  * three scale factors after this change).
  *
  * The native width is probed once per (session, path) — one physical
  * planning of the bare scan, no job — and memoized. The widened-vs-
  * native A/B measurements are in OPTIMIZATION_r14.md §6 and
  * OPTIMIZATION_r15.md §1 (a 3.1x win at x128).
  */
object ScanWiden {
  // keyed by the session's UUID, not the session object (r14 ADVICE:
  // a SparkSession key strongly retains stopped sessions for the JVM's
  // life). Size probing is java.io.File and therefore LOCAL-PATH-ONLY
  // by design: the probe exists for the driver's local fixture files;
  // a non-local path (hdfs://, s3://) reads 0 bytes, memoizes
  // Int.MaxValue and widening stays OFF — exactly the no-op-at-scale
  // contract, where native scan width exceeds the core count anyway.
  // Paths are assumed immutable for a session's life (the engine's
  // corpus dirs are write-once, _SUCCESS-gated); a pipeline rewriting
  // a table in-session must use a new path or a new session.
  private val nativeWidth =
    scala.collection.concurrent.TrieMap.empty[(String, String), Int]

  /** Tables below this on-disk size keep their native scan: they are
    * the broadcast-sized dims (region/nation/supplier/part), where a
    * widening exchange is pure stage overhead — the rows' downstream
    * compute is too small to amortize even a tiny shuffle. Measured at
    * sf0.1: widening ONLY costs (+0.05–0.1 s/query) below roughly this
    * size and only pays above it. */
  val MinBytes: Long = 256L << 10

  def widen(s: SparkSession, path: String, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val native = nativeWidth.getOrElseUpdate(
      (s"${s.sparkContext.applicationId}/${System.identityHashCode(s)}", path),
      if (bytesOf(new java.io.File(path)) < MinBytes) Int.MaxValue
      else df.rdd.getNumPartitions)
    if (native >= cores) df else df.repartition(cores)
  }

  private def bytesOf(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles() match {
      case null => 0L
      case kids => kids.map(bytesOf).sum
    } else f.length()
}
