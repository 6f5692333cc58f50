package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema-registry analytics (J4/F2/A11).
  *
  * Reference: kafka_overwatch/reporting/schema_registry.py:15-35.
  */
object SchemaRegistryOps {

  /** F2: TopicNameStrategy normalization — the reference uses plain
    * `str.replace` (all occurrences of both suffix markers, anywhere in the
    * string, reporting/schema_registry.py:26); reproduced literally. */
  def withBaseName(sr: DataFrame): DataFrame =
    sr.withColumn("base",
      regexp_replace(regexp_replace(col("subject"), lit("-value"), lit("")),
        lit("-key"), lit("")))

  /** J4: subjects whose normalized name matches no known topic — a
    * left-anti join against the topic list (broadcast: the topic list is
    * tiny next to a large registry). */
  def unusedSubjects(sr: DataFrame, topics: DataFrame): DataFrame =
    withBaseName(sr)
      .join(broadcast(topics.select(col("topic").as("base")).distinct()),
        Seq("base"), "left_anti")
      .select(col("registry"), col("subject"), col("version"),
        col("schema_id"), col("schema_type"))

  /** K7: the SR backup archive index — one row per schema version with the
    * reference's file-name contract `subject::version::type::id.txt`
    * (kafka_overwatch/schema_registry/__init__.py:95-129), preserved so a
    * reference restore CLI can consume engine-written archives. */
  def backupIndex(sr: DataFrame): DataFrame =
    sr.select(
      concat(col("subject"), lit("::"), col("version"), lit("::"),
        col("schema_type"), lit("::"), col("schema_id"), lit(".txt")).as("file_name"),
      col("registry"), col("subject"), col("version"), col("schema_id"),
      col("schema_type"), col("schema_string"))

  /** Per registry: distinct subjects and schemas. */
  def registryCounts(sr: DataFrame): DataFrame =
    sr.groupBy(col("registry")).agg(
      countDistinct(col("subject")).as("subjects_count"),
      countDistinct(col("schema_id")).as("schemas_count"))

  /** A11: registry counts — distinct subjects / schemas + unused subjects. */
  def counts(sr: DataFrame, topics: DataFrame): DataFrame = {
    val c = registryCounts(sr)
    val u = unusedSubjects(sr, topics).groupBy(col("registry"))
      .agg(countDistinct(col("subject")).as("unused_subjects_count"))
    c.join(u, Seq("registry"), "left")
      .select(col("registry"), col("subjects_count"), col("schemas_count"),
        coalesce(col("unused_subjects_count"), lit(0L)).as("unused_subjects_count"))
  }
}
