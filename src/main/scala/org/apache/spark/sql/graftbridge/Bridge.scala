package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService, ThreadPoolExecutor}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

/** Expression↔Column bridge. Spark 4 made the Column API backend-agnostic
  * and scoped the classic converters `private[sql]`; this shim lives under
  * `org.apache.spark.sql` solely to re-export them for graft's custom
  * Catalyst expressions, plus the few `private[spark]` helpers listed
  * below. No Spark internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (`SparkContext.listenerBus` is
    * `private[spark]`): task-end events are delivered on AsyncEventQueue
    * threads, so a metrics snapshot taken right after the last action
    * can miss the final tasks' counts unless the bus is empty. Best
    * effort — on timeout the snapshot proceeds with what has arrived. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
                           timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => }

  /** Spark's daemon pool (`ThreadUtils` is `private[spark]`): `n`
    * threads named `<prefix>-<i>`, which never keep the JVM alive. */
  def newDaemonFixedThreadPool(n: Int, prefix: String): ThreadPoolExecutor =
    ThreadUtils.newDaemonFixedThreadPool(n, prefix)

  /** Runs `body` on `exec` with the calling thread's active session,
    * Spark local properties (job group, job description, scheduler
    * pool, …) and artifact state, as Spark's own broadcast and
    * subquery futures do (`SQLExecution.withThreadLocalCaptured`). */
  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)
}
