package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.util.QueryExecutionListener
import java.lang.ref.SoftReference
import scala.util.chaining._

/** Clones of callers' sessions with `settings` fixed on each clone: a
  * clone copies its caller's conf, then sets `settings`. It shares the
  * caller's context and cache manager; setting its conf never touches the
  * caller's.
  *
  * One clone serves every call for a caller while the caller's conf and
  * query execution listeners stay as they were when it was cloned; a
  * change to either makes the next call clone again. Spark compiles the
  * few classes that interpreted execution still needs (an aggregation's
  * row joiner, an in-memory column reader) once per session, and a clone
  * copies the caller's whole session state, so a clone per call would
  * repeat both on every call. A clone is held softly: it lives as long as
  * its caller unless the heap runs short.
  *
  * Lives under org.apache.spark.sql for `cloneSession`, the listener list
  * and `Dataset.ofRows`.
  */
final class SessionClones(val settings: Seq[(String, String)]) {
  import SessionClones.Clone
  private val clones = new java.util.WeakHashMap[SparkSession, SoftReference[Clone]]()

  /** `caller`'s clone with `settings`. */
  def apply(caller: SparkSession): SparkSession = clones.synchronized {
    val c = caller.asInstanceOf[classic.SparkSession]
    val conf = c.sessionState.conf.getAllConfs
    val listeners = c.listenerManager.listListeners().toSeq
    Option(clones.get(caller)).flatMap(r => Option(r.get))
      .filter(t => t.conf == conf && t.listeners == listeners)
      .getOrElse {
        val clone = c.cloneSession()
        settings.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
        Clone(conf, listeners, clone).tap(t => clones.put(caller, new SoftReference(t)))
      }.session
  }
}

object SessionClones {
  /** A clone and the caller's conf and listeners it was cloned from. */
  private final case class Clone(conf: Map[String, String],
                                 listeners: Seq[QueryExecutionListener], session: SparkSession)

  /** `df`'s analyzed plan as a frame of `session`. The plan is unchanged,
    * so a frame the cache manager holds is still read from its cache, and
    * a file scan in it still reads with the conf of the session that
    * planned the read. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
