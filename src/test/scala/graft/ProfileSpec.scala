package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** tools.Profile's output contract at sf0.001: one JSON line per argument;
  * a query line carries its cold and warm times, its final plan's reuse
  * and exchange counts and the listener totals of its warm run; the
  * warmup line lists every derivation in the canonical report order. */
class ProfileSpec extends AnyFunSuite {
  private val QueryFields = Seq("cold_s", "warm_s", "reused_nodes", "exchanges",
    "run_s", "gc_s", "spill_mem_bytes", "spill_disk_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes")

  private val TickFields = Seq("wall_s", "executions", "plan_chars", "sql_metrics",
    "jobs", "stages", "tasks", "codegen_compiles", "heap_mb")

  /** A session with its own derivations and the shared session's settings:
    * invalidating it must not touch suites sharing TestSpark's session. */
  private def isolated() = {
    val ns = TestSpark.spark.newSession()
    TestSpark.spark.conf.getAll.foreach { case (k, v) =>
      if (ns.conf.isModifiable(k)) ns.conf.set(k, v)
    }
    ns
  }

  test("one JSON line per query and for the warmup") {
    val s = isolated()
    val dir = TestSpark.Sf0001
    val lines = Seq.newBuilder[String]
    tools.Profile.run(s, dir, Seq("q_cluster_report", "warmup"))(lines += _)
    val mapper = new ObjectMapper()
    val Seq(query, warmup) = lines.result().map(mapper.readTree)

    assert(query.get("name").asText === "q_cluster_report")
    QueryFields.foreach { f =>
      assert(query.hasNonNull(f) && query.get(f).isNumber, s"query line lacks $f")
    }
    assert(query.get("cold_s").asDouble > 0.0 && query.get("warm_s").asDouble > 0.0)
    assert(query.get("exchanges").asInt >= 0 && query.get("reused_nodes").asInt >= 0)

    assert(warmup.get("name").asText === "warmup")
    assert(warmup.get("makespan_s").asDouble > 0.0)
    assert(warmup.get("threads").asInt === SparkEntry.warmupThreads(s))
    val parts = warmup.get("derivations").elements.asScala.toSeq
    assert(parts.map(_.get("name").asText) === WarmupSpec.Names,
      "the warmup line must list the canonical derivation order")
    parts.foreach { p =>
      Seq("wall_s", "cpu_s", "run_s").foreach(f =>
        assert(p.get(f).isNumber, s"${p.get("name").asText} lacks $f"))
      assert(p.get("wall_s").asDouble >= 0.0)
    }
    SparkEntry.invalidate(s, dir)
  }

  test("tick: one JSON line per lake-mode service tick") {
    val s = isolated()
    val dir = TestSpark.Sf0001
    val lines = Seq.newBuilder[String]
    tools.Profile.run(s, dir, Seq("tick", "2"))(lines += _)
    val ticks = lines.result().map(new ObjectMapper().readTree)
    assert(ticks.map(_.get("name").asText) === Seq("tick", "tick"))
    assert(ticks.map(_.get("tick").asInt) === Seq(1, 2))
    assert(ticks.map(_.get("cluster").asText) === Seq("c1", "c2"))
    ticks.foreach { t =>
      TickFields.foreach(f => assert(t.hasNonNull(f) && t.get(f).isNumber, s"tick line lacks $f"))
      // a tick runs its fetches, gauge collects, report and exports
      assert(t.get("executions").asInt > 0 && t.get("plan_chars").asLong > 0)
      assert(t.get("jobs").asInt > 0 && t.get("tasks").asInt >= t.get("stages").asInt)
      assert(t.get("heap_mb").asDouble > 0.0)
    }
    SparkEntry.invalidate(s, dir)
  }
}
