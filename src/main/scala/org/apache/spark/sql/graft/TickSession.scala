package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import java.lang.ref.SoftReference
import scala.util.chaining._

/** The session a service tick plans and runs on: a clone of the caller's
  * session, whose conf it copies, with three settings fixed for inputs of
  * a few KB, where the fixed cost of each query outweighs its data:
  *  - `spark.sql.codegen.wholeStage=false` and
  *  - `spark.sql.codegen.factoryMode=NO_CODEGEN` (an internal Spark conf)
  *    run every operator and expression interpreted, so no query compiles
  *    a Janino class;
  *  - `spark.sql.adaptive.enabled=false` plans each query once, without
  *    a job per shuffle stage or a re-planned plan per execution kept in
  *    the SQL status store.
  * The clone shares the caller's context and cache manager; setting its
  * conf never touches the caller's. A service tick reads the snapshot
  * lake on the clone; the shared derivations it reads (the groups
  * dimension and the schema registry tables) are built on the caller and
  * re-bound into the clone with [[rebind]].
  *
  * One clone serves every call for a caller while the caller's conf and
  * query execution listeners stay as they were when it was cloned; a
  * change to either makes the next call clone again. Spark compiles the
  * few classes that interpreted execution still needs (an aggregation's
  * row joiner, an in-memory column reader) once per session, so a clone
  * per call would recompile them on every call. A clone is held softly:
  * it lives as long as its caller unless the heap runs short.
  *
  * Lives under org.apache.spark.sql for `cloneSession`, the listener list
  * and `Dataset.ofRows`.
  */
object TickSession {
  val Settings: Seq[(String, String)] = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString,
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false")

  /** A clone and the caller's conf and listeners it was cloned from. */
  private final case class Clone(conf: Map[String, String],
                                 listeners: Seq[QueryExecutionListener], session: SparkSession)
  private val clones = new java.util.WeakHashMap[SparkSession, SoftReference[Clone]]()

  /** The tick session of `caller`. */
  def apply(caller: SparkSession): SparkSession = clones.synchronized {
    val c = caller.asInstanceOf[classic.SparkSession]
    val conf = c.sessionState.conf.getAllConfs
    val listeners = c.listenerManager.listListeners().toSeq
    Option(clones.get(caller)).flatMap(r => Option(r.get))
      .filter(t => t.conf == conf && t.listeners == listeners)
      .getOrElse {
        val tick = c.cloneSession()
        Settings.foreach { case (k, v) => tick.sessionState.conf.setConfString(k, v) }
        Clone(conf, listeners, tick).tap(t => clones.put(caller, new SoftReference(t)))
      }.session
  }

  /** `df`'s analyzed plan as a frame of `session`. The plan is unchanged,
    * so a frame the cache manager holds is still read from its cache. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
