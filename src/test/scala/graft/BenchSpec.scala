package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's measurement protocol at sf0.001 over three declared queries and
  * one that throws: one cold and [[Bench.WarmPasses]] warm samples per
  * query, a failing query in `failed` with no timing, a compact line the
  * driver can parse, and a sidecar that is written, never read. */
class BenchSpec extends AnyFunSuite {
  private val Declared = Seq("q_cluster_report", "q_lag_topic", "q_topics_stats")
  private val Throws = "q_throws"

  test("one cold and three warm passes; a throwing query has no timing") {
    val s = {
      val ns = TestSpark.spark.newSession()
      TestSpark.spark.conf.getAll.foreach { case (k, v) =>
        if (ns.conf.isModifiable(k)) ns.conf.set(k, v)
      }
      ns
    }
    val dir = TestSpark.Sf0001
    val work = Files.createTempDirectory("graft-bench-spec")
    val sidecar = work.resolve("BENCH_LOCAL.json")
    // a wrong earlier sidecar at the output path: a settle-era artifact
    // that names a declared query failed and holds absurd timings. Its
    // access time is set to the epoch, so a read would move it forward on
    // any mount that records reads.
    val wrong = """{"metric":"total","value":99999.0,"failed":["q_lag_topic"],""" +
      Declared.map(q => s""""$q":12345.0""").mkString(""""queries":{""", ",", "},") +
      """"settle":{"q_cluster_report":{"first":1.0,"settled":1.0}},"protocol":5}"""
    Files.write(sidecar, wrong.getBytes("UTF-8"))
    Files.setAttribute(sidecar, "lastAccessTime", FileTime.fromMillis(0L))
    val queries = Declared.map(q => q -> SparkEntry.queries(q)) :+
      (Throws -> ((sp: org.apache.spark.sql.SparkSession, _: String) =>
        sp.range(1).selectExpr("raise_error('deliberate bench failure')")))
    try {
      val compact = Bench.run(s, dir, queries, sidecar.toFile)
      assert(Files.getAttribute(sidecar, "lastAccessTime").asInstanceOf[FileTime].toMillis === 0L,
        "Bench read the earlier sidecar")

      val mapper = new ObjectMapper()
      assert(compact.length < 2000, s"compact line is ${compact.length} chars")
      val line = mapper.readTree(compact)
      assert(line.get("protocol").asInt === Bench.Protocol)
      assert(line.get("n_queries").asInt === 4 && line.get("n_failed").asInt === 1)
      val range = line.get("pass_range_s").elements.asScala.map(_.asDouble).toSeq
      assert(range.size == 2 && range.head <= range.last)

      val full = mapper.readTree(new String(Files.readAllBytes(sidecar), "UTF-8"))
      assert(!full.has("settle") && !full.has("first_pass"))
      assert(full.get("failed").elements.asScala.map(_.asText).toSeq === Seq(Throws))
      assert(full.get("foreign_cores").asDouble >= 0.0 && full.get("contended").isBoolean)
      val medians = full.get("queries")
      val spread = full.get("spread")
      val executor = full.get("executor")
      Seq(medians, spread, executor).foreach(m =>
        assert(m.fieldNames.asScala.toSeq.sorted === Declared,
          s"expected exactly the declared queries, got $m"))
      val passes = full.get("pass_s").elements.asScala.map(_.asDouble).toSeq
      assert(passes.size === Bench.WarmPasses)
      Declared.foreach { q =>
        val sp = spread.get(q)
        val (cold, min, max, med) = (sp.get("cold").asDouble, sp.get("min").asDouble,
          sp.get("max").asDouble, medians.get(q).asDouble)
        assert(cold > 0.0 && min > 0.0, s"$q: cold $cold, min $min")
        assert(min <= med && med <= max, s"$q: min $min, median $med, max $max")
        assert(med < 12345.0, s"$q carries the earlier sidecar's timing")
        Seq("run_s", "cpu_s", "gc_s", "spill_mem_bytes", "spill_disk_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes").foreach(f =>
          assert(executor.get(q).get(f).isNumber, s"$q executor totals lack $f"))
      }
      assert(Declared.map(q => executor.get(q).get("run_s").asDouble).sum > 0.0,
        "the listener charged no executor time to the warm runs")
      // each warm pass is one sample of every query: its total lies
      // between the sums of the per-query minima and maxima
      val lo = Declared.map(q => spread.get(q).get("min").asDouble).sum
      val hi = Declared.map(q => spread.get(q).get("max").asDouble).sum
      passes.foreach(p => assert(p >= lo - 0.003 && p <= hi + 0.003,
        s"pass total $p outside [$lo, $hi]"))
      val warmup = full.get("warmup_sec").asDouble
      assert(math.abs(full.get("value").asDouble - warmup - Declared.map(q =>
        medians.get(q).asDouble).sum) < 0.01, "value is warmup_sec + the warm medians")
    } finally {
      SparkEntry.invalidate(s, dir)
      val paths = Files.walk(work)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  test("contended is decided from the CPU other processes used during the run") {
    import Bench.{CpuReading, contended, foreignCores}
    // a 4-CPU host read 10 s apart: 4,000 jiffies pass in all
    def window(hostBusy: Long, processS: Double) =
      foreignCores(CpuReading(0L, 0L, 4, 0L, 0L),
        CpuReading(hostBusy, 4000L, 4, (processS * 1e9).toLong, 10000000000L))
    // the bench alone, on every core or on one: nobody else ran
    assert(window(4000L, 40.0) === 0.0 && window(1000L, 10.0) === 0.0)
    assert(!contended(window(4000L, 40.0), 4))
    // the host busy 3.2 cores, the bench 1: others kept 2.2 busy
    assert(math.abs(window(3200L, 10.0) - 2.2) < 1e-9)
    assert(contended(window(3200L, 10.0), 4))
    // exactly half the run's cores is not contended
    assert(!contended(window(3000L, 10.0), 4))
    // the JVM's clock reading above the host's busy share is no negative
    // load, and a host that could not be read counts as quiet
    assert(window(1000L, 12.0) === 0.0)
    assert(foreignCores(CpuReading(0L, 0L, 0, 0L, 0L), CpuReading(0L, 0L, 0, 5000000000L,
      10000000000L)) === 0.0)
  }
}
