package graft

import org.apache.spark.sql.functions.{col, lit, pmod, sum}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Snapshots

/** `Snapshots.eventsRaw` plans its read on a clone of the caller with
  * its two parquet settings: the caller's conf stays as it was, and the
  * values read do not depend on it. */
class EventsReadSpec extends AnyFunSuite {
  test("reading the snapshot derivations leaves a fresh session's conf as it was") {
    val s = TestSpark.spark.newSession()
    val before = s.conf.getAll
    assert(Snapshots.watermarks(s, TestSpark.Sf0001).count() > 0)
    assert(s.conf.getAll === before)
    SparkEntry.invalidate(s, TestSpark.Sf0001)
  }

  test("events.ts reads the same whatever the caller's parquet settings") {
    // every value, as a checksum modulo a prime (the plain sum overflows)
    def tsSum(nanosAsLong: String, inferNtz: String): Long = {
      val s = TestSpark.spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", inferNtz)
      Snapshots.eventsRaw(s, TestSpark.Sf0001)
        .agg(sum(pmod(col("ts"), lit(1000000007L)))).collect()(0).getLong(0)
    }
    val expected = tsSum("true", "false")
    assert(tsSum("false", "true") === expected)
    assert(tsSum("true", "true") === expected)
  }
}
