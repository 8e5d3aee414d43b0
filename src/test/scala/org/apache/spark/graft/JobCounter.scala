package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts from the calling thread. Lives in
  * Spark's package to drain the listener bus, which delivers job events
  * asynchronously, before the count is read.
  */
object JobCounter {
  def count(sc: SparkContext)(body: => Unit): Int = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
