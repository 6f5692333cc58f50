package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The derivation registry's contract: once-only builds per key under
  * concurrent and nested requests, no entry left by a failed build, every
  * derivation held at its declared storage level after the warmup, and an
  * invalidate that releases one session's keys without uncaching another
  * session's equal frames. */
class DerivationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def isolated(): SparkSession = {
    val ns = TestSpark.spark.newSession()
    TestSpark.spark.conf.getAll.foreach { case (k, v) =>
      if (ns.conf.isModifiable(k)) ns.conf.set(k, v)
    }
    ns
  }

  /** A private copy of the sf0.001 tables: the cache manager matches by
    * plan, and a plan over this path is held by no other suite's session. */
  private lazy val dir = {
    val to = java.nio.file.Files.createTempDirectory("graft-derivations")
    val from = java.nio.file.Paths.get(TestSpark.Sf0001)
    java.nio.file.Files.list(from).forEach(f =>
      java.nio.file.Files.copy(f, to.resolve(f.getFileName)))
    to.toString
  }

  override def afterAll(): Unit = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).toSeq.flatten.foreach(_.delete())
    d.delete()
  }

  /** Runs `body` on `n` threads released at once; fails on a 60 s stall. */
  private def concurrently[A](n: Int)(body: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val start = new CountDownLatch(1)
    try {
      val all = Future.sequence((0 until n).map(i => Future { start.await(); body(i) }))
      start.countDown()
      Await.result(all, 60.seconds)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("eight concurrent requests for one key run its build once") {
    val builds = new AtomicInteger()
    val d = new Derivations()("counted", Nil, Storage.Driver(), (_, _) => {
      builds.incrementAndGet()
      Thread.sleep(200)
      Seq(1, 2, 3)
    })
    val s = isolated()
    val got = concurrently(8)(_ => d(s, "any"))
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head), "requests got different values")
  }

  test("a nested dependency builds once under concurrent requests, no deadlock") {
    val innerBuilds = new AtomicInteger()
    val outerBuilds = new AtomicInteger()
    val reg = new Derivations()
    val inner = reg("inner", Nil, Storage.Driver(), (_, _) => {
      innerBuilds.incrementAndGet()
      Thread.sleep(100)
      10
    })
    val outer = reg("outer", Seq(inner), Storage.Driver(), (s, dir) => {
      outerBuilds.incrementAndGet()
      Thread.sleep(100)
      inner(s, dir) + 1
    })
    val s = isolated()
    val got = concurrently(8)(i => if (i % 2 == 0) outer(s, "any") else inner(s, "any"))
    assert(got.zipWithIndex.forall { case (v, i) => v === (if (i % 2 == 0) 11 else 10) })
    assert(innerBuilds.get === 1 && outerBuilds.get === 1)
    assert(reg.keyCount(s) === 2)
  }

  test("a throwing build leaves no entry and the next request rebuilds") {
    val builds = new AtomicInteger()
    val reg = new Derivations()
    val d = reg("flaky", Nil, Storage.Driver(), (_, _) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      else "built")
    val s = isolated()
    assertThrows[IllegalStateException](d(s, "any"))
    assert(reg.keyCount(s) === 0)
    assert(d(s, "any") === "built")
    assert(builds.get === 2 && reg.keyCount(s) === 1)
  }

  test("after the warmup every derivation is held at its declared storage level") {
    val s = isolated()
    SparkEntry.warmupAttributed(s, dir)
    val byName = SparkEntry.derivations.all.map(d => d.name -> d).toMap
    assert(byName("incNgramIndex").storage === Storage.Persisted(StorageLevel.DISK_ONLY))
    assert(byName("dedupClusters").storage === Storage.SelfManaged)
    SparkEntry.derivations.all.foreach { d =>
      assert(d.keyCount(s) === 1, s"${d.name} was not built by the warmup")
      (d.storage, d(s, dir)) match {
        case (Storage.Persisted(level, _), df: Dataset[_]) =>
          assert(df.storageLevel === level, s"${d.name} held at the wrong level")
        case (Storage.SelfManaged, df: Dataset[_]) =>
          // storageLevel is the cache manager's lookup by plan
          assert(df.storageLevel === StorageLevel.NONE,
            s"${d.name} is registered with the cache manager")
        case _ =>
      }
    }
    SparkEntry.invalidate(s, dir)
    assert(SparkEntry.memoKeyCount(s) === 0)
  }

  test("invalidate on one session keeps another session's equal frames cached") {
    val a = isolated()
    val b = isolated()
    SparkEntry.warmupAttributed(a, dir)
    SparkEntry.warmupAttributed(b, dir)
    val framesA = SparkEntry.cachedFrames(a, dir)
    val framesB = SparkEntry.cachedFrames(b, dir)
    assert(framesB.nonEmpty && framesB.forall(_.storageLevel != StorageLevel.NONE))

    SparkEntry.invalidate(a, dir)
    assert(SparkEntry.cachedFrames(a, dir).isEmpty)
    framesB.foreach(f => assert(f.storageLevel != StorageLevel.NONE,
      "invalidating one session uncached another session's frame"))

    SparkEntry.invalidate(b, dir)
    (framesA ++ framesB).foreach(f => assert(f.storageLevel === StorageLevel.NONE,
      "a frame stayed cached after every session holding it was invalidated"))
  }
}
