package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** Bridge to the `private[spark]` listener-bus internals `graft.Capture`
  * needs (same access pattern as `ColumnBridge`): the exact drain, and
  * read-only views of what is registered. */
object ListenerBridge {

  /** Returns once every event posted so far has reached every listener;
    * throws `java.util.concurrent.TimeoutException` after `timeoutMs`. */
  def waitUntilEmpty(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  def busListeners(spark: SparkSession): Seq[SparkListenerInterface] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq

  def executionListeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
