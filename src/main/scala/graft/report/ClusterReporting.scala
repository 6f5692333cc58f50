package graft.report

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import graft.operators.{Governance, SchemaRegistryOps}

/** Cluster usage report assembly — the reference's main output document
  * (K1), mirroring its JSON contract (reference:
  * kafka_overwatch/specs/report.py:10-143 / specs/report.json, assembled
  * at reporting/__init__.py:104-130).
  *
  * Single-pass design: ALL topic-derived fragments (waste categories,
  * statistics scalars, most-active threshold + candidates, topic
  * governance) come from ONE aggregation over topics_df, and all
  * group-derived fragments from ONE aggregation over groups_df — not one
  * job per fragment. The most-active map is assembled post-aggregation by
  * filtering the collected candidate entries against the percentile
  * thresholds computed in the same pass (row-local array ops on the single
  * result row). The final document is a nested struct row serialized with
  * to_json; the 1-row crossJoins are size-invariant. Each pass is its own
  * 1-row fragment (`topicFragment`, `groupFragment`, `srFragment`) and
  * `assemble` builds the document over their columns, so a caller can
  * collect each fragment as soon as its input is ready and assemble the
  * collected rows (`fragments`) without another job.
  *
  * Deviations from the reference, per SURVEY §2.10:
  *  - Statistics.consumer_groups is populated (Q4 — reference declares but
  *    never fills it),
  *  - EstimatedWaste.topics/partitions carry real sums (Q5 — reference
  *    hardcodes 0),
  *  - governance division-by-zero guarded (Q6).
  */
object ClusterReporting {

  /** Waste-category keys + descriptions exactly as the reference emits
    * them (reporting/topics.py:29-41,43-81,83-111). */
  val CategoryMeta: Seq[(String, Column, String)] = Seq(
    ("no_messages", graft.operators.TopicAnalytics.emptyPred,
      "All the topics with no messages."),
    ("no_active_cg_no_messages_topics_with_multiple_partitions",
      graft.operators.TopicAnalytics.deadWeightPred,
      "Topics with no messages, no active consumer group, and more than one partition"),
    ("no_cgs_and_no_new_messages", graft.operators.TopicAnalytics.stalePred,
      "Topics with messages, but no active consumer group and no messages produced during the evaluation period"))

  private val MostActiveMapType =
    "map<string,struct<partitions:bigint,total_messages:bigint,new_messages:bigint,active_groups:bigint>>"

  /** The full ClusterReport as a single nested row: [[assemble]] over the
    * cross join of the three 1-row fragments. `now` is injected so report
    * generation is reproducible (the reference scatters utcnow() across
    * call sites — SURVEY §7.4). */
  def clusterReport(clusterName: String, topics: DataFrame, groups: DataFrame,
                    sr: DataFrame, wmTopics: DataFrame, now: java.time.Instant,
                    topicCompliant: Seq[String] = Governance.DefaultCompliant,
                    topicExcluded: Seq[String] = Governance.DefaultExcluded,
                    groupCompliant: Seq[String] = Governance.DefaultGroupCompliant,
                    groupExcluded: Seq[String] = Governance.DefaultGroupExcluded): DataFrame =
    assemble(clusterName, now,
      topicFragment(topics, topicCompliant, topicExcluded)
        .crossJoin(groupFragment(groups, groupCompliant, groupExcluded))
        .crossJoin(srFragment(sr, wmTopics)))

  private def nonCompliantAggs(prefix: String): Seq[Column] = Seq(
    sum(when(col("excluded_name"), 1L).otherwise(0L)).as(s"${prefix}_excluded"),
    sum(when(!col("compliant_name") && !col("excluded_name"), 1L).otherwise(0L))
      .as(s"${prefix}_noncomp"),
    coalesce(sort_array(collect_list(
      when(!col("compliant_name") && !col("excluded_name"), col("name")))),
      array().cast("array<string>")).as(s"${prefix}_noncomp_names"))

  /** One pass over topics, as one row: statistics scalars, most-active
    * threshold and candidates, all three waste categories, topic
    * governance. */
  def topicFragment(topics: DataFrame,
                    compliant: Seq[String] = Governance.DefaultCompliant,
                    excluded: Seq[String] = Governance.DefaultExcluded): DataFrame = {
    val catAggs = CategoryMeta.zipWithIndex.flatMap { case ((_, pred, _), i) =>
      Seq(
        collect_list(when(pred, struct(col("name"), col("partitions"))))
          .as(s"cat${i}_entries"),
        coalesce(sum(when(pred, col("partitions"))), lit(0L)).as(s"cat${i}_psum"),
        count(when(pred, lit(1))).as(s"cat${i}_count"))
    }
    val topicAggs = Seq(
      count(lit(1)).as("t_total"),
      sum(col("partitions")).as("t_partitions"),
      graft.functions.AtScale.quantile(topics, col("new_messages"), 0.75).as("q_new"),
      graft.functions.AtScale.quantile(topics, col("total_messages"), 0.75).as("q_total"),
      collect_list(when(col("active_groups") > 0,
        struct(col("name"),
          struct(col("partitions"), col("total_messages"), col("new_messages"),
            col("active_groups")).as("value")))).as("active_entries")) ++
      catAggs ++ nonCompliantAggs("tg")
    topics
      .withColumn("excluded_name", Governance.anyMatch(col("name"), excluded))
      .withColumn("compliant_name", Governance.anyMatch(col("name"), compliant))
      .agg(topicAggs.head, topicAggs.tail: _*)
  }

  /** One pass over groups, as one row: consumer-group stats and group
    * governance. */
  def groupFragment(groups: DataFrame,
                    compliant: Seq[String] = Governance.DefaultGroupCompliant,
                    excluded: Seq[String] = Governance.DefaultGroupExcluded): DataFrame = {
    val groupAggs = Seq(
      count(lit(1)).as("g_total"),
      sum(when(col("overall_lag") === 0 && col("members") > 0, 1L).otherwise(0L))
        .as("g_active"),
      sum(when(col("overall_lag") > 0 || col("members") === 0, 1L).otherwise(0L))
        .as("g_inactive")) ++ nonCompliantAggs("gg")
    groups
      .withColumn("excluded_name", Governance.anyMatch(col("name"), excluded))
      .withColumn("compliant_name", Governance.anyMatch(col("name"), compliant))
      .agg(groupAggs.head, groupAggs.tail: _*)
  }

  /** The schema registry, ONE pass, as one row: the anti-join becomes a
    * left join against the distinct topic list (cardinality-preserving, so
    * collect_list sees exactly the rows the anti-join produced) and both
    * the distinct counts and the unused-subject fragment fold into a
    * single aggregation — one branch, not two. */
  def srFragment(sr: DataFrame, wmTopics: DataFrame): DataFrame =
    SchemaRegistryOps.withBaseName(sr)
      .join(broadcast(wmTopics.select(col("topic").as("base")).distinct()
        .withColumn("known", lit(true))), Seq("base"), "left")
      .agg(
        countDistinct(col("subject")).as("subjects_count"),
        countDistinct(col("schema_id")).as("schemas_count"),
        coalesce(sort_array(collect_list(
          when(col("known").isNull, col("subject")))),
          array().cast("array<string>")).as("detected_unused"),
        countDistinct(when(col("known").isNull, col("subject")))
          .as("detected_unused_count"))

  /** The fragments' collected rows as one one-row frame of `spark`: a
    * local relation, so [[assemble]] over it is folded by the optimizer
    * and collecting the report runs no job. */
  def fragments(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.List.of(Row.merge(rows: _*)),
      StructType(rows.flatMap(_.schema)))

  /** The report document over the one row of the three fragments' columns
    * (`fragments`), for `clusterName` at `now`. */
  def assemble(clusterName: String, now: java.time.Instant, fragments: DataFrame): DataFrame = {
    val ts = java.time.LocalDateTime.ofInstant(now, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))

    def namingStruct(prefix: String, totalCol: Column): Column = struct(
      totalCol.cast("double").as("total"),
      col(s"${prefix}_excluded").cast("double").as("total_ignored"),
      (totalCol - col(s"${prefix}_excluded")).cast("double").as("total_measured"),
      (lit(100.0) - col(s"${prefix}_noncomp") * lit(100.0) /
        nullif(totalCol - col(s"${prefix}_excluded"), lit(0L)))
        .as("compliant_percentage"),
      col(s"${prefix}_noncomp_names").as("non_compliant_resources"))

    val catStructs = CategoryMeta.zipWithIndex.map { case ((key, _, desc), i) =>
      struct(lit(key).as("key"),
        struct(
          map_from_entries(col(s"cat${i}_entries")).as("topics"),
          col(s"cat${i}_psum").as("topic_partitions_sum"),
          lit(desc).as("description"),
          col(s"cat${i}_count").as("topics_count"),
          when(col("t_total") === 0, lit(null))
            .otherwise(expr(s"cat${i}_count * 100 div t_total")).cast("double")
            .as("cluster_percentage")).as("value"))
    }
    val mostActiveMap = coalesce(
      map_from_entries(filter(col("active_entries"), e =>
        e.getField("value").getField("new_messages") > col("q_new") &&
          e.getField("value").getField("total_messages") > col("q_total"))),
      map().cast(MostActiveMapType))

    fragments
      .select(struct(
        lit(clusterName).as("cluster_name"),
        struct(lit(ts).as("timestamp")).as("metadata"),
        struct(
          namingStruct("tg", col("t_total")).as("topic_naming_convention"),
          namingStruct("gg", col("g_total")).as("consumer_group_naming_convention"))
          .as("governance"),
        struct(
          col("t_total").as("topics"),
          col("t_partitions").as("partitions"),
          mostActiveMap.as("most_active_topics"),
          struct(col("g_total").as("total"), col("g_active").as("active"),
            col("g_inactive").as("inactive")).as("consumer_groups"))
          .as("statistics"),
        struct(
          (col("cat0_count") + col("cat1_count") + col("cat2_count")).as("topics"),
          (col("cat0_psum") + col("cat1_psum") + col("cat2_psum")).as("partitions"),
          map_from_entries(array(catStructs: _*)).as("topic_categories"))
          .as("estimated_waste"),
        struct(col("subjects_count"), col("schemas_count"),
          struct(col("detected_unused"), col("detected_unused_count"))
            .as("schemas_estimates")).as("schema_registry")).as("cluster"))
  }

  /** K1: the report as a JSON document string (driver writes it to its
    * destination; on a cluster this single row costs nothing to collect). */
  def reportJson(report: DataFrame): String =
    report.select(to_json(struct(col("cluster")))).collect()(0).getString(0)

  /** K2: DataFrame export — csv/json to a directory, formats per config
    * (reference reporting/tools.py:38-61). */
  def exportDf(df: DataFrame, outDir: String, name: String,
               formats: Seq[String] = Seq("csv", "json")): Unit =
    formats.foreach {
      case "csv" =>
        df.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/$name.csv")
      case "json" =>
        df.coalesce(1).write.mode("overwrite").json(s"$outDir/$name.json")
      case other => throw new IllegalArgumentException(s"unsupported format $other")
    }
}
