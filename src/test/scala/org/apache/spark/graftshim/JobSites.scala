package org.apache.spark.graftshim

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches, each named by the call site of its
  * result stage ("<op> at File.scala:line"). The listener bus is drained
  * before and after the block (package-private in Spark, hence this
  * package), so the list is exact, not a poll that may miss late events. */
object JobSites {
  def of(sc: SparkContext)(block: => Any): Seq[String] = {
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.sortBy(_.stageId).lastOption.foreach(s => sites.add(s.name))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      block
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }
}
