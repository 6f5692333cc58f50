package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** The Spark thread locals of the thread that creates it, with `session`
  * as the active session: its local properties (job description, job
  * group, scheduler pool and any property a caller set) are copied once,
  * at creation. `apply` runs a body under them on any thread, each run
  * under its own copy of the properties (a running query sets its
  * execution id there), and then restores the thread's own properties and
  * active session. Lives under org.apache.spark for
  * `SparkContext.getLocalProperties`/`setLocalProperties`.
  */
final class ThreadLocals(session: SparkSession) {
  private val props = Utils.cloneProperties(session.sparkContext.getLocalProperties)

  def apply[T](body: => T): T = {
    val sc = session.sparkContext
    val ownProps = sc.getLocalProperties
    val ownSession = SparkSession.getActiveSession
    sc.setLocalProperties(Utils.cloneProperties(props))
    SparkSession.setActiveSession(session)
    try body
    finally {
      sc.setLocalProperties(ownProps)
      ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
