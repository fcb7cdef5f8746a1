package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs and tasks a block of driver code runs. Lives
  * under `org.apache.spark` so it can drain the listener bus before and
  * after the block: counts are exact, not racing the asynchronous bus. */
object JobCounter {
  def apply(sc: SparkContext)(body: => Unit): (Long, Long) = {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })(body)
    (jobs.get, tasks.get)
  }

  /** The properties of every job the block starts, in start order. */
  def jobProperties(sc: SparkContext)(body: => Unit): Seq[java.util.Properties] = {
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        props.add(Option(e.properties).getOrElse(new java.util.Properties))
    })(body)
    props.asScala.toSeq
  }

  /** The jobs the block starts and the shuffle bytes its tasks write. */
  def shuffled(sc: SparkContext)(body: => Unit): (Long, Long) = {
    val jobs = new AtomicLong
    val bytes = new AtomicLong
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(body)
    (jobs.get, bytes.get)
  }

  /** The input records each job the block starts reads, in start order. */
  def recordsRead(sc: SparkContext)(body: => Unit): Seq[Long] = {
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val perJob = new java.util.concurrent.ConcurrentSkipListMap[Int, AtomicLong]
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        perJob.put(e.jobId, new AtomicLong)
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && jobOfStage.containsKey(e.stageId))
          perJob.get(jobOfStage.get(e.stageId)).addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })(body)
    perJob.values.asScala.map(_.get).toSeq
  }

  private def listening(sc: SparkContext, listener: SparkListener)(body: => Unit): Unit = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
  }
}
