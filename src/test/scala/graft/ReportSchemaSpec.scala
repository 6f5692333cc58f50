package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

import graft.operators.{GroupAnalytics, TopicAnalytics}
import graft.report.ClusterReporting
import graft.sources.Snapshots

/** SURVEY §5 item 4: the emitted report validates against the
  * reference's JSON Schema (kafka_overwatch/specs/report.json) verbatim.
  * The validator below covers the draft-07 subset that schema uses
  * (type / required / properties / additionalProperties / items / $ref /
  * patternProperties) — no external validator library is available in
  * this sandbox, so the subset is implemented here and kept deliberately
  * strict: unknown schema keywords that could hide a constraint fail the
  * test. */
class ReportSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Handled = Set("$schema", "id", "$id", "title", "description",
    "type", "required", "properties", "additionalProperties", "items",
    "$ref", "definitions", "patternProperties", "uniqueItems", "format",
    "minimum", "maximum", "oneOf")

  private def resolve(schema: JsonNode, root: JsonNode): JsonNode =
    if (schema.has("$ref")) {
      val ref = schema.get("$ref").asText()
      assert(ref.startsWith("#/"), s"unsupported $$ref $ref")
      ref.stripPrefix("#/").split("/").foldLeft(root)((n, p) => n.get(p))
    } else schema

  private def typeOk(t: String, v: JsonNode): Boolean = t match {
    case "object" => v.isObject
    case "array" => v.isArray
    case "string" => v.isTextual
    case "integer" => v.isIntegralNumber
    case "number" => v.isNumber
    case "boolean" => v.isBoolean
    case "null" => v.isNull
    case other => fail(s"unsupported type keyword $other")
  }

  private def validate(schemaIn: JsonNode, v: JsonNode, root: JsonNode,
                       path: String): Seq[String] = {
    val schema = resolve(schemaIn, root)
    schema.fieldNames().asScala.foreach(k =>
      assert(Handled.contains(k), s"$path: unhandled schema keyword $k"))
    val errs = Seq.newBuilder[String]
    if (schema.has("oneOf")) {
      val branches = schema.get("oneOf").elements().asScala.toSeq
      val failures = branches.map(b => validate(b, v, root, path))
      if (!failures.exists(_.isEmpty))
        errs += s"$path: no oneOf branch matched " +
          s"(${failures.map(_.mkString("; ")).mkString(" / ")})"
    }
    if (schema.has("type")) {
      val ts = if (schema.get("type").isArray)
        schema.get("type").elements().asScala.map(_.asText()).toSeq
      else Seq(schema.get("type").asText())
      if (!ts.exists(typeOk(_, v)))
        errs += s"$path: expected ${ts.mkString("|")}, got ${v.getNodeType}"
    }
    if (v.isObject) {
      if (schema.has("required"))
        schema.get("required").elements().asScala.foreach { r =>
          if (!v.has(r.asText())) errs += s"$path: missing required ${r.asText()}"
        }
      val props = Option(schema.get("properties"))
      props.foreach(_.properties().asScala.foreach { e =>
        if (v.has(e.getKey))
          errs ++= validate(e.getValue, v.get(e.getKey), root, s"$path.${e.getKey}")
      })
      val patterns = Option(schema.get("patternProperties"))
        .map(_.properties().asScala.map(e => (e.getKey.r, e.getValue)).toSeq)
        .getOrElse(Seq.empty)
      val addl = Option(schema.get("additionalProperties"))
      v.properties().asScala.foreach { e =>
        val inProps = props.exists(_.has(e.getKey))
        val pat = patterns.filter(_._1.findFirstIn(e.getKey).isDefined)
        pat.foreach { case (_, ps) =>
          errs ++= validate(ps, e.getValue, root, s"$path.${e.getKey}")
        }
        if (!inProps && pat.isEmpty) addl match {
          case Some(a) if a.isBoolean && !a.asBoolean() =>
            errs += s"$path: additional property ${e.getKey} not allowed"
          case Some(a) if a.isObject =>
            errs ++= validate(a, e.getValue, root, s"$path.${e.getKey}")
          case _ => // additionalProperties: true / absent
        }
      }
    }
    if (v.isNumber) {
      if (schema.has("minimum") && v.asDouble() < schema.get("minimum").asDouble())
        errs += s"$path: ${v.asDouble()} below minimum"
      if (schema.has("maximum") && v.asDouble() > schema.get("maximum").asDouble())
        errs += s"$path: ${v.asDouble()} above maximum"
    }
    if (v.isArray && schema.has("items"))
      v.elements().asScala.zipWithIndex.foreach { case (el, i) =>
        errs ++= validate(schema.get("items"), el, root, s"$path[$i]")
      }
    errs.result()
  }

  test("report JSON validates against the reference specs/report.json") {
    val dir = TestSpark.Sf0001
    val wm = Snapshots.watermarks(spark, dir)
    val go = Snapshots.groupOffsets(spark, dir)
    val gd = Snapshots.groupsDim(spark, dir)
    val rpt = ClusterReporting.clusterReport("c1",
      TopicAnalytics.topicsDf(wm, go, gd),
      GroupAnalytics.groupsDf(GroupAnalytics.lagByScan(wm, go), gd),
      Snapshots.srSubjects(spark, dir), wm,
      java.time.Instant.ofEpochSecond(1700000180L))
    val mapper = new ObjectMapper()
    val report = mapper.readTree(ClusterReporting.reportJson(rpt))
    val schema = mapper.readTree(
      new java.io.File("/root/reference/kafka_overwatch/specs/report.json"))
    val errs = validate(schema, report, schema, "$")
    assert(errs.isEmpty, errs.mkString("\n"))
  }
}
