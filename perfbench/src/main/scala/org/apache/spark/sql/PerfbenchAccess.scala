package org.apache.spark.sql

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext

/** Read-only views of Spark internals the benchmark needs: the
  * listeners registered on each bus (to prove an untraced run adds
  * none), and a way to wait until every posted event reached them.
  */
object PerfbenchAccess {
  def sparkListeners(sc: SparkContext): Seq[AnyRef] =
    sc.listenerBus.listeners.asScala.toSeq

  def executionListeners(spark: SparkSession): Seq[AnyRef] =
    spark.listenerManager.listListeners().toSeq

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
