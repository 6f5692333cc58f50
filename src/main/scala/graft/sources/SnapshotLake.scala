package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The snapshot lake: how the history tables persist at scale.
  *
  * Layout: parquet partitioned by (cluster, s). Every analytic in this
  * engine filters or groups on a prefix of that key — latest-scan queries
  * prune to one scan directory per cluster, baseline joins touch exactly
  * two, and full-history windows read one cluster's subtree. Partition
  * pruning happens at file listing, before any IO.
  *
  * (The `s` ordinal stands in for a date/hour partition in production;
  * compaction of old scans into baseline summaries bounds history growth
  * — SURVEY §7.4.)
  */
object SnapshotLake {

  /** Writes the snapshot of `sfDir` as a lake under `lakeDir`: its
    * watermarks in `watermarks/`, its group offsets in `group_offsets/`,
    * the two tables a service tick reads. */
  def write(spark: SparkSession, sfDir: String, lakeDir: String): Unit = {
    writeWatermarks(Snapshots.watermarks(spark, sfDir), s"$lakeDir/watermarks")
    writeGroupOffsets(Snapshots.groupOffsets(spark, sfDir), s"$lakeDir/group_offsets")
  }

  /** The lake's watermarks table, the columns and types of
    * `Snapshots.watermarks`: its writer writes these and its reader reads
    * them, with no schema inferred from the files. */
  val WatermarksSchema: StructType = new StructType()
    .add("cluster", StringType).add("topic", StringType).add("partition_id", LongType)
    .add("low", LongType).add("high", LongType).add("scan_ts", LongType).add("s", LongType)

  /** The lake's group offsets table, the columns and types of
    * `Snapshots.groupOffsets`. */
  val GroupOffsetsSchema: StructType = new StructType()
    .add("cluster", StringType).add("grp", StringType).add("topic", StringType)
    .add("partition_id", LongType).add("committed", LongType).add("scan_ts", LongType)
    .add("s", LongType)

  def writeWatermarks(wm: DataFrame, path: String): Unit =
    writeTable(wm, WatermarksSchema, path)

  /** Reads the watermarks under `path` with [[WatermarksSchema]]. The
    * schema is declared, so building the frame launches no job to infer
    * it from the parquet footers; the partition columns `cluster` and `s`
    * take their declared types from the directory names, and the columns
    * come back in the writer's order (a partitioned read appends the
    * partition columns last), so lake-backed and derivation-backed frames
    * are interchangeable. */
  def readWatermarks(spark: SparkSession, path: String): DataFrame =
    readTable(spark, WatermarksSchema, path)

  /** group_offsets in the same (cluster, s) layout. */
  def writeGroupOffsets(go: DataFrame, path: String): Unit =
    writeTable(go, GroupOffsetsSchema, path)

  /** Reads the group offsets under `path` with [[GroupOffsetsSchema]], as
    * [[readWatermarks]] reads the watermarks. */
  def readGroupOffsets(spark: SparkSession, path: String): DataFrame =
    readTable(spark, GroupOffsetsSchema, path)

  private def writeTable(df: DataFrame, schema: StructType, path: String): Unit =
    df.select(schema.map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode("overwrite")
      .partitionBy("cluster", "s")
      .parquet(path)

  private def readTable(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).parquet(path).select(schema.fieldNames.map(col): _*)

  /** Latest-scan view — prunes to the single newest partition directory. */
  def latest(spark: SparkSession, path: String): DataFrame = {
    val df = readWatermarks(spark, path)
    df.filter(col("s") === Snapshots.NumScans)
  }

  /** Bucketed form of a snapshot table: hash-bucketed AND sorted by the
    * join key. Two tables bucketed the same way join with NO shuffle and
    * no sort — at 100 TB this is how the recurring lag join
    * (group_offsets x watermarks on (topic, partition_id)) runs as a
    * map-side zip of co-located buckets. Bucket count is the scale knob:
    * files per partition = buckets, each bucket pair joins in one task.
    * Requires saveAsTable (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int = 8,
                    keys: Seq[String] = Seq("topic", "partition_id")): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** History compaction (SURVEY §7.4): fold every scan older than
    * `keepFrom` into one synthetic baseline row per partition, carrying
    *  - the first observed high (the frozen init_end_offset baseline, W2),
    *  - the max low seen (the monotone log-start, W3),
    * tagged with the oldest scan's ordinal/timestamp. Recent scans stay
    * as-is. Baseline-vs-latest analytics (topics_df, waste, most-active)
    * are invariant under compaction — asserted in LakeAndEventStreamSpec —
    * while storage drops from O(scans) to O(keep window).
    */
  def compact(wm: DataFrame, keepFrom: Long): DataFrame = {
    val old = wm.filter(col("s") < keepFrom)
    val baseline = old.groupBy(col("cluster"), col("topic"), col("partition_id"))
      .agg(
        min_by(col("high"), col("s")).as("high"),
        max(col("low")).as("low"),
        min(col("scan_ts")).as("scan_ts"),
        min(col("s")).as("s"))
      .select(col("cluster"), col("topic"), col("partition_id"), col("low"),
        col("high"), col("scan_ts"), col("s"))
    baseline.unionByName(wm.filter(col("s") >= keepFrom))
  }

  /** Lake retention (SURVEY §7.4, VERDICT r3 item 9): at a 60 s scan
    * cadence the lake gains ~1.4k scan partitions per cluster per day;
    * this folds every scan older than the last `keepLast` into the
    * compact() baseline row and PHYSICALLY replaces the lake, so disk is
    * O(keepLast), not O(history).
    *
    * Equivalence contract, asserted in LakeAndEventStreamSpec:
    *  - W2 baselineDeltas rows at retained scans are unchanged (the
    *    baseline row carries the frozen first-observed high);
    *  - W3 logStart is unchanged (max low is carried);
    *  - W1 partitionDeltas between retained consecutive scans are
    *    unchanged; the one synthetic baseline->oldest-retained delta is
    *    the aggregated catch-up over the dropped interval (the exact sum
    *    of the deltas it replaces).
    *
    * The swap goes through Hadoop FileSystem rename (works on any DFS the
    * lake lives on), with the new lake fully written before the old one
    * is moved. Plain DFS renames cannot swap two directories atomically,
    * so there IS a crash window between "old moved aside" and "new moved
    * in" where `path` is absent — that state is self-describing (the
    * `.expired` sibling holds the complete old lake) and recoverRetention
    * repairs it; call it before reads on startup. A crash anywhere else
    * leaves the lake untouched (the staged copy is a sibling). */
  def applyRetention(spark: SparkSession, path: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    recoverRetention(spark, path)
    val wm = readWatermarks(spark, path)
    val maxRow = wm.agg(max(col("s"))).collect()(0)
    if (maxRow.isNullAt(0)) return // empty lake: nothing to retain
    val maxS = maxRow.getLong(0)
    swapInPlace(spark, path)(tmp =>
      writeWatermarks(compact(wm, maxS - keepLast + 1), tmp))
  }

  /** Stage-and-swap primitive shared by retention and index compaction:
    * `write(tmp)` must EAGERLY write the replacement (reading the live
    * `path` is fine — the swap happens only after the write returns),
    * then the live directory is swapped out through the same rename
    * dance as applyRetention, with the identical crash contract:
    * the only non-atomic window leaves the old data parked at
    * `.expired` and [[recoverRetention]] repairs it. */
  def swapInPlace(spark: SparkSession, path: String)
                 (write: String => Unit): Unit = {
    recoverRetention(spark, path)
    val tmp = path + ".retaining"
    write(tmp) // eager: full write before any rename
    val conf = spark.sparkContext.hadoopConfiguration
    val lake = new org.apache.hadoop.fs.Path(path)
    val staged = new org.apache.hadoop.fs.Path(tmp)
    val expired = new org.apache.hadoop.fs.Path(path + ".expired")
    val fs = lake.getFileSystem(conf)
    if (fs.exists(expired)) fs.delete(expired, true)
    if (!fs.rename(lake, expired))
      throw new java.io.IOException(s"retention: could not stage out $lake")
    if (!fs.rename(staged, lake)) {
      if (!fs.rename(expired, lake)) // roll back
        throw new java.io.IOException(
          s"retention: swap-in of $staged failed AND rollback of $expired " +
            s"failed — the old lake is intact at $expired; restore it manually")
      throw new java.io.IOException(s"retention: could not swap in $staged")
    }
    fs.delete(expired, true)
  }

  /** Repair the one non-atomic window in applyRetention: if a crash left
    * `path` absent with the old lake parked at `.expired`, move it back
    * (the staged `.retaining` copy, possibly incomplete, is discarded —
    * retention re-runs idempotently from the restored lake). No-op on a
    * healthy lake. */
  def recoverRetention(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val lake = new org.apache.hadoop.fs.Path(path)
    val staged = new org.apache.hadoop.fs.Path(path + ".retaining")
    val expired = new org.apache.hadoop.fs.Path(path + ".expired")
    val fs = lake.getFileSystem(conf)
    if (!fs.exists(lake) && fs.exists(expired) && !fs.rename(expired, lake))
      throw new java.io.IOException(
        s"retention recovery: could not restore $expired to $lake")
    if (fs.exists(staged)) fs.delete(staged, true)
  }
}
