package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs and tasks a block of driver code runs. Lives
  * under `org.apache.spark` so it can drain the listener bus before and
  * after the block: counts are exact, not racing the asynchronous bus. */
object JobCounter {
  def apply(sc: SparkContext)(body: => Unit): (Long, Long) = {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    (jobs.get, tasks.get)
  }
}
