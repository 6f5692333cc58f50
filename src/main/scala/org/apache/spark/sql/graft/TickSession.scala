package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.internal.SQLConf

/** The session a service tick plans and runs on: a clone of the caller's
  * session ([[SessionClones]]), whose conf it copies, with five settings
  * fixed for inputs of a few KB, where the fixed cost of each query and
  * each job outweighs its data:
  *  - `spark.sql.codegen.wholeStage=false` and
  *  - `spark.sql.codegen.factoryMode=NO_CODEGEN` (an internal Spark conf)
  *    run every operator and expression interpreted, so no query compiles
  *    a Janino class;
  *  - `spark.sql.adaptive.enabled=false` plans each query once, without
  *    a job per shuffle stage or a re-planned plan per execution kept in
  *    the SQL status store;
  *  - `spark.sql.autoBroadcastJoinThreshold=-1` and
  *  - `spark.sql.optimizer.disableHints=true` plan every join as a
  *    shuffle join, whatever its size or a `broadcast` hint in a shared
  *    operator. Without adaptive execution a broadcast exchange collects
  *    its side in a job of its own before the query's job starts, and a
  *    broadcast inside a broadcast side waits for that one in turn; a
  *    shuffle join runs inside the query's own job.
  * A service tick reads the snapshot lake on the clone; the shared
  * derivations it reads (the groups dimension and the schema registry
  * tables) are built on the caller and re-bound into the clone with
  * [[SessionClones.rebind]]. One clone serves every tick of a caller
  * while the caller's conf and listeners stay as they were.
  */
object TickSession {
  val Settings: Seq[(String, String)] = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString,
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> "-1",
    SQLConf.DISABLE_HINTS.key -> "true")

  private val clones = new SessionClones(Settings)

  /** The tick session of `caller`. */
  def apply(caller: SparkSession): SparkSession = clones(caller)
}
