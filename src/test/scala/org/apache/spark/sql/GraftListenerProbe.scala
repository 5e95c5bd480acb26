package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** the listeners registered on a session (both lists are private) */
object GraftListenerProbe {
  def sparkListeners(s: SparkSession): Seq[SparkListenerInterface] =
    s.sparkContext.listenerBus.listeners.asScala.toSeq

  def queryListeners(s: SparkSession): Seq[util.QueryExecutionListener] =
    s.listenerManager.listListeners().toSeq
}
