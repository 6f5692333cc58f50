package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Naming-convention governance (F1/P7/P8/A8).
  *
  * Reference: kafka_overwatch/reporting/governance/topic_naming_convention.py:25-38
  * (byte-identical duplicate for consumer groups) driven from
  * reporting/__init__.py:55-77.
  *
  * The reference uses Python `re.match`, which anchors at the *start* of
  * the string only — regexes passed here must carry their own `^` (the
  * defaults below do), and `rlike` then reproduces `re.match` semantics.
  * Quirk Q1 (the reference reuses topic regexes for consumer groups) is
  * fixed by taking the regex lists as parameters.
  */
object Governance {
  /** Default convention: single lowercase word is compliant. */
  val DefaultCompliant: Seq[String] = Seq("^[a-z]+$")
  /** Default exclusions (skip internal/test topics). */
  val DefaultExcluded: Seq[String] = Seq("^t_empty")
  /** Default consumer-group convention: single lowercase word. */
  val DefaultGroupCompliant: Seq[String] = Seq("^[a-z]+$")
  /** Default consumer-group exclusions (dead groups). */
  val DefaultGroupExcluded: Seq[String] = Seq("^g_dead")

  /** any(re.match(r, name) for r in regexes) as a Column. */
  def anyMatch(c: Column, regexes: Seq[String]): Column =
    regexes.map(r => c.rlike(r)).reduce(_ || _)

  /** P7: name + excluded_name/compliant_name boolean columns
    * (topic_naming_convention.py:29-38). */
  def governed(named: DataFrame,
               compliant: Seq[String] = DefaultCompliant,
               excluded: Seq[String] = DefaultExcluded): DataFrame =
    named.select(col("name"))
      .withColumn("excluded_name", anyMatch(col("name"), excluded))
      .withColumn("compliant_name", anyMatch(col("name"), compliant))

  /** A8: counts + compliant percentage
    * (reporting/__init__.py:63-77). compliant_percentage =
    * 100 - nc*100/(total - excluded); division-by-zero (quirk Q6) guarded
    * with nullif so an all-excluded set yields NULL, not a crash. */
  def summary(named: DataFrame,
              compliant: Seq[String] = DefaultCompliant,
              excluded: Seq[String] = DefaultExcluded): DataFrame =
    governed(named, compliant, excluded).agg(
      count(lit(1)).as("total"),
      sum(when(col("excluded_name"), 1L).otherwise(0L)).as("excluded_count"),
      sum(when(!col("compliant_name") && !col("excluded_name"), 1L).otherwise(0L))
        .as("non_compliant_count"))
      .select(col("total"), col("excluded_count"), col("non_compliant_count"),
        (lit(100.0) - col("non_compliant_count") * lit(100.0) /
          nullif(col("total") - col("excluded_count"), lit(0L)))
          .as("compliant_percentage"))

  /** P8: the non-compliant (and not excluded) names. */
  def nonCompliant(named: DataFrame,
                   compliant: Seq[String] = DefaultCompliant,
                   excluded: Seq[String] = DefaultExcluded): DataFrame =
    governed(named, compliant, excluded)
      .filter(!col("compliant_name") && !col("excluded_name"))
      .select(col("name"))
}
