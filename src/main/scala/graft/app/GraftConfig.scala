package graft.app

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** Typed engine configuration — the reference's YAML config surface
  * (kafka_overwatch/specs/config.json -> specs/config.py dataclasses,
  * loaded+validated at config/__init__.py:21-32), re-expressed as case
  * classes with explicit validation. Only the analytics-relevant subset is
  * modeled; connection/secret plumbing belongs to the collector layer.
  *
  * Defaults mirror the reference: cluster scan interval 60s
  * (specs/config.py:458) with a 30s global fallback (config/config.py:38),
  * evaluation period 60s (specs/config.py:287), SR scan interval 300s
  * (specs/config.py:417).
  *
  * topic_include_regexes / topic_exclude_regexes implement quirk Q7: the
  * reference declares them but never applies them; here they are an
  * ingest-time filter (Scheduler.applyTopicFilters) — documented
  * extension.
  */
final case class GovernanceConfig(
    topicCompliantRegexes: Seq[String] = Seq.empty,
    topicExcludedRegexes: Seq[String] = Seq.empty,
    groupCompliantRegexes: Seq[String] = Seq.empty,
    groupExcludedRegexes: Seq[String] = Seq.empty) {
  import graft.operators.Governance
  private def orDefault(regexes: Seq[String], default: Seq[String]) =
    if (regexes.nonEmpty) regexes else default
  // the rules the report applies: each list as configured, or the default when empty
  def topicCompliant: Seq[String] = orDefault(topicCompliantRegexes, Governance.DefaultCompliant)
  def topicExcluded: Seq[String] = orDefault(topicExcludedRegexes, Governance.DefaultExcluded)
  def groupCompliant: Seq[String] =
    orDefault(groupCompliantRegexes, Governance.DefaultGroupCompliant)
  def groupExcluded: Seq[String] = orDefault(groupExcludedRegexes, Governance.DefaultGroupExcluded)
}

final case class ReportingConfig(
    evaluationPeriodSeconds: Long = 60L,
    exportsFormats: Seq[String] = Seq("json"),
    outputDirectory: String = "reports",
    notificationChannels: Seq[String] = Seq.empty)

/** A named live-delivery endpoint (the engine's analog of the
  * reference's notification_channels.sns.<name>.topic_arn). */
final case class WebhookChannelConfig(name: String, url: String)

/** notification_channels.sns.<name> — the reference's SnsTopicChannel
  * fields exactly (specs/config.py:38-50): topic_arn required, role_arn
  * optional assume-role, ignore_errors guards message construction. */
final case class SnsChannelConfig(name: String, topicArn: String,
                                  roleArn: Option[String] = None,
                                  ignoreErrors: Boolean = false)

/** notification_channels.smtp.<name> — direct email delivery for
  * deployments without SNS. */
final case class SmtpChannelConfig(name: String, host: String, port: Int,
                                   mailFrom: String, mailTo: Seq[String])

final case class ClusterConfig(
    name: String,
    scanIntervalSeconds: Long = 60L,
    topicIncludeRegexes: Seq[String] = Seq.empty,
    topicExcludeRegexes: Seq[String] = Seq.empty,
    governance: GovernanceConfig = GovernanceConfig(),
    reporting: ReportingConfig = ReportingConfig(),
    schemaRegistry: Option[String] = None)

final case class SchemaRegistryConfig(
    name: String,
    scanIntervalSeconds: Long = 300L)

final case class GraftConfig(
    globalScanIntervalSeconds: Long = 30L,
    clusters: Seq[ClusterConfig] = Seq.empty,
    schemaRegistries: Seq[SchemaRegistryConfig] = Seq.empty,
    notificationChannels: Seq[WebhookChannelConfig] = Seq.empty,
    snsChannels: Seq[SnsChannelConfig] = Seq.empty,
    smtpChannels: Seq[SmtpChannelConfig] = Seq.empty) {
  def channelNames: Set[String] =
    (notificationChannels.map(_.name) ++ snsChannels.map(_.name) ++
      smtpChannels.map(_.name)).toSet
}

object GraftConfig {
  private val mapper = new ObjectMapper(new YAMLFactory())

  /** Parse + validate a YAML config document. Unknown keys are ignored
    * (the reference validates against JSON Schema; here validation is the
    * explicit checks below). */
  def parse(yaml: String): GraftConfig = {
    val root = mapper.readTree(yaml)
    def strings(n: com.fasterxml.jackson.databind.JsonNode, f: String): Seq[String] =
      Option(n.get(f)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    def longOr(n: com.fasterxml.jackson.databind.JsonNode, f: String, d: Long): Long =
      Option(n.get(f)).map(_.asLong()).getOrElse(d)

    val globalInterval = Option(root.get("global"))
      .map(g => longOr(g, "cluster_scan_interval_in_seconds", 30L)).getOrElse(30L)

    val clusters = Option(root.get("clusters")).map { cs =>
      cs.properties().asScala.toSeq.map { e =>
        val (name, c) = (e.getKey, e.getValue)
        val gov = Option(c.get("governance")).map { g =>
          def conv(f: String) = Option(g.get(f))
            .map(n => strings(n, "regexes")).getOrElse(Seq.empty)
          GovernanceConfig(
            conv("topic_naming_convention"), conv("topic_exclude_convention"),
            conv("consumer_groups_naming_convention"), conv("consumer_groups_exclude_convention"))
        }.getOrElse(GovernanceConfig())
        val rep = Option(c.get("reporting_config")).map { r =>
          ReportingConfig(
            longOr(r, "evaluation_period_in_seconds", 60L),
            Option(r.get("exports")).map(x => strings(x, "formats"))
              .getOrElse(Seq("json")),
            Option(r.get("output_directory")).map(_.asText()).getOrElse("reports"),
            Option(r.get("notification_channels"))
              .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty))
        }.getOrElse(ReportingConfig())
        ClusterConfig(
          name,
          longOr(c, "cluster_scan_interval_in_seconds", globalInterval.max(1L)),
          strings(c, "topic_include_regexes"),
          strings(c, "topic_exclude_regexes"),
          gov, rep,
          Option(c.get("schema_registry")).map(_.asText()))
      }
    }.getOrElse(Seq.empty)

    val channelsNode = Option(root.get("notification_channels"))
    val channels = channelsNode
      .flatMap(n => Option(n.get("webhook"))).map { ws =>
        ws.properties().asScala.toSeq.map { e =>
          WebhookChannelConfig(e.getKey,
            Option(e.getValue.get("url")).map(_.asText()).getOrElse(""))
        }
      }.getOrElse(Seq.empty)
    val sns = channelsNode
      .flatMap(n => Option(n.get("sns"))).map { ss =>
        ss.properties().asScala.toSeq.map { e =>
          SnsChannelConfig(e.getKey,
            Option(e.getValue.get("topic_arn")).map(_.asText()).getOrElse(""),
            Option(e.getValue.get("role_arn")).map(_.asText()),
            Option(e.getValue.get("ignore_errors")).exists(_.asBoolean()))
        }
      }.getOrElse(Seq.empty)
    val smtp = channelsNode
      .flatMap(n => Option(n.get("smtp"))).map { ss =>
        ss.properties().asScala.toSeq.map { e =>
          SmtpChannelConfig(e.getKey,
            Option(e.getValue.get("host")).map(_.asText()).getOrElse(""),
            Option(e.getValue.get("port")).map(_.asInt()).getOrElse(25),
            Option(e.getValue.get("mail_from")).map(_.asText()).getOrElse(""),
            Option(e.getValue.get("mail_to"))
              .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty))
        }
      }.getOrElse(Seq.empty)

    val registries = Option(root.get("schema_registries")).map { rs =>
      rs.properties().asScala.toSeq.map { e =>
        SchemaRegistryConfig(e.getKey,
          longOr(e.getValue, "schema_registry_scan_interval", 300L))
      }
    }.getOrElse(Seq.empty)

    validate(GraftConfig(globalInterval, clusters, registries, channels, sns, smtp))
  }

  def validate(c: GraftConfig): GraftConfig = {
    require(c.globalScanIntervalSeconds > 0, "global scan interval must be > 0")
    c.notificationChannels.foreach(ch =>
      require(ch.url.nonEmpty, s"notification channel ${ch.name}: url required"))
    c.snsChannels.foreach(ch =>
      require(ch.topicArn.nonEmpty, s"sns channel ${ch.name}: topic_arn required"))
    c.smtpChannels.foreach { ch =>
      require(ch.host.nonEmpty, s"smtp channel ${ch.name}: host required")
      require(ch.mailFrom.nonEmpty, s"smtp channel ${ch.name}: mail_from required")
      require(ch.mailTo.nonEmpty, s"smtp channel ${ch.name}: mail_to required")
    }
    val dupes = (c.notificationChannels.map(_.name) ++ c.snsChannels.map(_.name) ++
      c.smtpChannels.map(_.name)).groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    require(dupes.isEmpty, s"duplicate notification channel names: ${dupes.mkString(",")}")
    c.clusters.foreach { cl =>
      require(cl.name.nonEmpty, "cluster name must not be empty")
      require(cl.scanIntervalSeconds > 0, s"${cl.name}: scan interval must be > 0")
      require(cl.reporting.evaluationPeriodSeconds > 0,
        s"${cl.name}: evaluation period must be > 0")
      val known = Set("csv", "json")
      val bad = cl.reporting.exportsFormats.filterNot(known)
      require(bad.isEmpty, s"${cl.name}: unsupported export formats $bad")
      cl.schemaRegistry.foreach { sr =>
        require(c.schemaRegistries.exists(_.name == sr),
          s"${cl.name}: schema_registry '$sr' not defined")
      }
      cl.reporting.notificationChannels.foreach { ch =>
        require(c.channelNames.contains(ch),
          s"${cl.name}: notification channel '$ch' not defined")
      }
      (cl.topicIncludeRegexes ++ cl.topicExcludeRegexes ++
        cl.governance.topicCompliantRegexes ++ cl.governance.topicExcludedRegexes)
        .foreach(r => java.util.regex.Pattern.compile(r))
    }
    val dup = c.clusters.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dup.isEmpty, s"duplicate cluster names: $dup")
    c
  }
}
