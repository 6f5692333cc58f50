package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.app.Scheduler

/** The dependency runner a service tick runs its actions on
  * (`Scheduler.Actions.run`). */
class TickDagSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` on a fresh runner for `session` and shuts it down. */
  private def withActions[T](session: SparkSession)(body: Scheduler.Actions => T): T = {
    val actions = new Scheduler.Actions(session, "graft-dag-test")
    try body(actions) finally actions.shutdown()
  }

  test("a node never starts before its inputs have completed") {
    withActions(spark) { actions =>
      val seen = actions.run { dag =>
        val done = new AtomicBoolean(false)
        val slow = dag.after() { Thread.sleep(200); done.set(true); 1 }
        val quick = dag.after()(2)
        dag.after(slow, quick)((done.get, slow.join() + quick.join()))
      }.join()
      assert(seen === ((true, 3)))
    }
  }

  test("independent nodes run side by side") {
    withActions(spark) { actions =>
      val a = new CountDownLatch(1)
      val b = new CountDownLatch(1)
      // each node waits for the other: both finish only if both run at once
      val (left, right) = actions.run { dag =>
        (dag.after() { a.countDown(); b.await(30, TimeUnit.SECONDS) },
          dag.after() { b.countDown(); a.await(30, TimeUnit.SECONDS) })
      }
      assert(left.join() && right.join())
    }
  }

  test("a failed node's dependents never run, its siblings finish, and its own exception is thrown") {
    withActions(spark) { actions =>
      val boom = new IllegalStateException("boom")
      val dependentRan = new AtomicBoolean(false)
      val siblingDone = new AtomicBoolean(false)
      val thrown = intercept[IllegalStateException](actions.run { dag =>
        val failing = dag.after[Unit]() { Thread.sleep(50); throw boom }
        val sibling = dag.after() { Thread.sleep(300); siblingDone.set(true) }
        val dependent = dag.after(failing)(dependentRan.set(true))
        dag.after(dependent, sibling)(dependentRan.set(true))
      })
      assert(thrown eq boom)
      assert(siblingDone.get, "run returned before a started sibling finished")
      assert(!dependentRan.get, "a dependent of the failed node ran")
    }
  }

  test("of several failed nodes, the first declared one's exception is thrown") {
    withActions(spark) { actions =>
      val first = new IllegalStateException("first declared")
      val second = new IllegalArgumentException("first to fail")
      val thrown = intercept[IllegalStateException](actions.run { dag =>
        dag.after[Unit]() { Thread.sleep(200); throw first }
        dag.after[Unit]()(throw second)
      })
      assert(thrown eq first)
    }
  }

  test("every node runs under the calling thread's job description and the runner's session") {
    val tick = spark.newSession()
    val sc = spark.sparkContext
    SparkSession.setActiveSession(spark)
    sc.setJobDescription("tick under test")
    try withActions(tick) { actions =>
      val seen = actions.run { dag =>
        def probe(): (String, Option[SparkSession]) =
          (sc.getLocalProperty("spark.job.description"), SparkSession.getActiveSession)
        // a node that changes its own description must not pass it on to
        // a dependent that its pool thread goes on to run
        val first = dag.after() { val p = probe(); sc.setJobDescription("leaked"); p }
        val second = dag.after(first) {
          val p = probe(); tick.range(3).count(); sc.setJobDescription("leaked"); p
        }
        val third = dag.after(second)(probe())
        val side = dag.after()(probe())
        Seq(first, second, third, side).map(_.join())
      }
      seen.foreach { case (description, active) =>
        assert(description === "tick under test")
        assert(active.exists(_ eq tick))
      }
      assert(sc.getLocalProperty("spark.job.description") === "tick under test")
      assert(SparkSession.getActiveSession.exists(_ eq spark))
    } finally sc.setJobDescription(null)
  }
}
