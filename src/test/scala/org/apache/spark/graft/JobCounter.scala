package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts Spark jobs. Lives in Spark's package to drain the listener bus,
  * which delivers job events asynchronously, before the count is read.
  */
object JobCounter {
  /** The jobs a block starts from the calling thread. */
  def count(sc: SparkContext)(body: => Unit): Int = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "counted")
    try counting(sc, e => prop(e, SparkContext.SPARK_JOB_GROUP_ID) == group)(body)
    finally sc.clearJobGroup()
  }

  /** The jobs of micro-batch `batchId` of streaming query `queryId` (its
    * `StreamingQuery.id`) that start while `body` runs and satisfy
    * `where`. Spark tags a micro-batch's jobs, broadcasts included, with
    * both ids as job properties.
    */
  def streamingBatch(sc: SparkContext, queryId: java.util.UUID, batchId: Long,
                     where: SparkListenerJobStart => Boolean = _ => true)
                    (body: => Unit): Int =
    counting(sc, e => prop(e, "sql.streaming.queryId") == queryId.toString &&
      prop(e, "streaming.sql.batchId") == batchId.toString && where(e))(body)

  private def prop(e: SparkListenerJobStart, key: String): String =
    Option(e.properties).map(_.getProperty(key)).orNull

  private def counting(sc: SparkContext, counted: SparkListenerJobStart => Boolean)
                      (body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
