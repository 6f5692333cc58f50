package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.app.GraftApp.Args

/** `GraftApp.main`'s command line, parsed without starting a session. */
class GraftAppArgsSpec extends AnyFunSuite {
  private val required = Seq("config.yaml", "sf", "out")

  test("the required arguments alone: one tick, the lake under the output dir") {
    assert(Args.parse(required) === Args("config.yaml", "sf", "out", 1, "out/lake", streaming = false))
  }

  test("flags without a tick count do not become the tick count") {
    assert(Args.parse(required ++ Seq("--lake", "/l")) ===
      Args("config.yaml", "sf", "out", 1, "/l", streaming = false))
    assert(Args.parse(required :+ "--streaming").streaming)
    // a lake directory that looks like a number is the flag's value
    assert(Args.parse(required ++ Seq("--lake", "7")) ===
      Args("config.yaml", "sf", "out", 1, "7", streaming = false))
  }

  test("the tick count is the first argument that is neither a flag nor a flag's value") {
    val expected = Args("config.yaml", "sf", "out", 3, "/l", streaming = true)
    Seq(Seq("3", "--lake", "/l", "--streaming"), Seq("--lake", "/l", "3", "--streaming"),
      Seq("--streaming", "--lake", "/l", "3")).foreach { rest =>
      assert(Args.parse(required ++ rest) === expected, rest)
    }
  }

  test("malformed command lines are rejected") {
    Seq(Seq("config.yaml", "sf"), Seq("config.yaml", "sf", "--lake", "/l"),
      required :+ "--lake", required ++ Seq("--lake", "--streaming"), required :+ "x",
      required ++ Seq("2", "3"), required :+ "--verbose").foreach { args =>
      intercept[IllegalArgumentException](Args.parse(args))
    }
  }
}
