package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one place the engine touches `private[sql]`/`private[spark]` APIs:
  * converting a catalyst Expression into a public Column (Spark 4 removed
  * the public constructor when Column became ColumnNode-based),
  * registering a native-Expression SQL function on an already-built
  * session, draining the listener bus, running a fold over a plan's
  * internal rows as a tracked SQL execution, and releasing a local
  * checkpoint without a warning. Lives under
  * org.apache.spark.sql.* solely for access; no Spark internals are
  * modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** RDD ids of the LogicalRDD leaves of a (checkpointed) DataFrame's
    * analyzed plan — the exact pinned ids of a `localCheckpoint` result,
    * read off the frame itself. Replaces getPersistentRDDs set-diff
    * bracketing, which mis-attributed ids when two driver threads
    * checkpointed concurrently (r14: the q_pipe_ep4 overlap unpersisted
    * the other thread's live checkpoint block). */
  def leafRddIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  /** Temp-function registration on a live session (the extensions route in
    * graft.expressions.GraftExtensions covers sessions built with
    * spark.sql.extensions). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Blocks until every listener event posted so far has been delivered
    * (a `SparkListener` snapshot taken after this sees all finished
    * tasks). Throws `TimeoutException` after 60 s rather than reporting
    * counters that are still missing events. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Runs `body` over the internal rows of `df`'s physical plan as one
    * SQL execution named `name`, the way a Dataset action runs: query
    * listeners see it and its planning time is recorded. The rows are
    * only valid while the iterator that produced them is on them (Spark
    * reuses row objects), so `body` must fold, not keep them. */
  def withInternalRows[T](df: org.apache.spark.sql.DataFrame, name: String)(
      body: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] => T): T = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name))(
      body(qe.toRdd))
  }

  /** `rdd.unpersist(blocking)` without its WARN for a locally
    * checkpointed RDD ("lineage has been truncated and cannot be
    * recomputed after unpersisting"): the same `unpersistRDD` call, for a
    * caller that releases a checkpoint it is done with on purpose. The
    * RDD keeps its storage level; a checkpointed RDD cannot be recomputed
    * after the release either way. */
  def unpersistQuietly(rdd: org.apache.spark.rdd.RDD[_], blocking: Boolean): Unit =
    if (rdd.checkpointData.exists(
          _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
