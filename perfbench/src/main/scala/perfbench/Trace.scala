package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary and the span that
  * caused it. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/**
 * Spans recorded by the benchmark around its own calls, plus Spark's
 * jobs, stages, queries and planning phases seen through the public
 * listener APIs. Jobs are linked to the benchmark call that caused them
 * through the `perfbench.span` local property set before each call;
 * queries are linked through their jobs or, when they ran none, by
 * falling inside the call's interval. Everything stays in memory until
 * [[counts]] and [[spans]] are read at the end of the run.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val own = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long]()

  /** Run `f` inside a benchmark span of `layer`; jobs it starts carry the span id. */
  def span[T](layer: String, name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanProp)
    stack.push(id)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = now()
    try f finally {
      own.add(Span(id, parent, layer, name, t0, now()))
      stack.pop()
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  // ---- Spark-side records, filled by the listeners ----
  private final case class JobRec(id: Int, start: Double, span: Long, execId: Long, stages: Seq[Int]) {
    @volatile var end: Double = start
  }
  private final class StageRec {
    var first = Double.MaxValue; var last = 0.0
    var tasks = 0L
    val intervals = mutable.ArrayBuffer[(Double, Double)]()
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageRecs = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private final case class QueryRec(id: Long, durationMs: Double, seenAt: Double, planPhases: Seq[(String, Double, Double)],
                                    kernel: Boolean, rowAgg: Boolean, groups: Long, failed: Boolean) {
    // the listener runs after the fact; the execution-end event has the real end
    def end: Double = Option(execEnd.get(id)).map(_.doubleValue()).getOrElse(seenAt)
    def start: Double = end - durationMs
  }
  private val execEnd = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => a + b)
  private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Traced jobs started and not yet ended, in listener-bus order: a
    * block update belongs to a traced job when it arrives while one runs. */
  private val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  /** Work outside every benchmark span (output checks, markers) is not counted. */
  private def traced(stageId: Int): Boolean =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).exists(_.span != 0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      if (props.exists(p => p.getProperty(MarkerProp) != null)) markers.add(props.get.getProperty(MarkerProp))
      jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, span, exec, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (span != 0L) { add("exec.jobs", 1); running.add(e.jobId) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      running.remove(e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced(e.stageInfo.stageId)) add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced(e.stageId)) {
      val info = e.taskInfo
      val rec = stageRecs.computeIfAbsent(e.stageId, _ => new StageRec)
      rec.synchronized {
        rec.first = math.min(rec.first, info.launchTime.toDouble)
        rec.last = math.max(rec.last, info.finishTime.toDouble)
        rec.tasks += 1
        rec.intervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
      }
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("driver.result_mb", m.resultSize / 1e6)
        add("sources.rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.mb", m.inputMetrics.bytesRead / 1e6)
      }
      info.accumulables.foreach { a =>
        (a.name, a.update) match {
          case (Some("scan time"), Some(v: Long)) => add("sources.scan_s", v / 1e3)
          case (Some("time in aggregation build"), Some(v: Long)) => add("agg.build_s", v / 1e3)
          case _ =>
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => execEnd.put(end.executionId, end.time.toDouble)
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid && !running.isEmpty) add("checkpoint.written_mb", (b.memSize + b.diskSize) / 1e6)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L, failed = true)
  }

  private def record(qe: QueryExecution, durationNs: Long, failed: Boolean): Unit = {
    val seenAt = System.currentTimeMillis().toDouble
    val phases = qe.tracker.phases.toSeq.map { case (name, p) => (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
    val nodes = plan.map(p => PlanWalk.collect(p)).getOrElse(Nil)
    val kernel = nodes.exists(_.getClass.getName.startsWith("graft."))
    val rowAggNodes = nodes.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.aggregateFunction.getClass.getName.startsWith("graft.")) => a
    }
    // groups out of final cofactor aggregates (the kernel execs report no row count)
    val groups = nodes.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.forall(e => e.mode == Final || e.mode == Complete) &&
          a.aggregateExpressions.exists(_.aggregateFunction.getClass.getName.startsWith("graft.")) =>
        a.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    queries.add(QueryRec(qe.id, durationNs / 1e6, seenAt, phases, kernel, rowAggNodes.nonEmpty, groups, failed))
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until every event posted before now has reached the listeners
    * (a marker job travels the same shared queue as the query listener
    * bus), then detach them. */
  def stop(): Unit = {
    val token = s"m${ids.incrementAndGet()}"
    sc.setLocalProperty(MarkerProp, token)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(MarkerProp, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!markers.contains(token) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  private def tracedJobs: Seq[JobRec] = jobs.values().asScala.toSeq.filter(_.span != 0L)

  /** Queries with the benchmark call that caused them: through their
    * jobs, else the innermost call whose interval holds them. */
  private def tracedQueries: Seq[(QueryRec, Long)] = {
    val calls = own.asScala.toSeq.filter(_.layer != "bench")
    def callAt(t0: Double, t1: Double): Long =
      calls.filter(c => c.start <= t0 + 1 && c.end >= t1 - 1).sortBy(_.dur).headOption.map(_.id).getOrElse(0L)
    val jobsByExec = tracedJobs.groupBy(_.execId)
    queries.asScala.toSeq.map { q =>
      q -> jobsByExec.get(q.id).flatMap(_.headOption.map(_.span)).getOrElse(callAt(q.start, q.end))
    }.filter(_._2 != 0L)
  }

  /** All spans: the benchmark's own plus planning phases, queries, jobs
    * and stages, each parented as described on the class. */
  def spans(): Seq[Span] = {
    val querySpanId = mutable.Map[Long, Long]()
    val out = mutable.ArrayBuffer[Span]() ++= own.asScala
    for ((q, parent) <- tracedQueries if !q.failed) {
      val id = ids.incrementAndGet()
      querySpanId(q.id) = id
      out += Span(id, parent, "driver", s"query ${q.id}", q.start, q.end)
      q.planPhases.foreach { case (name, s, e) =>
        out += Span(ids.incrementAndGet(), parent, "plans", s"$name ${q.id}", s, e)
      }
    }
    for (j <- tracedJobs) {
      val id = ids.incrementAndGet()
      val parent = querySpanId.getOrElse(j.execId, j.span)
      out += Span(id, parent, "driver", s"job ${j.id}", j.start, j.end)
      for (s <- j.stages; rec <- Option(stageRecs.get(s)) if rec.tasks > 0)
        out += Span(ids.incrementAndGet(), id, "exec", s"stage $s (${rec.tasks} tasks)", rec.first, rec.last)
    }
    out.toSeq
  }

  /** Per-layer self time: each span's duration minus the part of it its
    * children cover. */
  def selfTime(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.dur - covered(s, kids.getOrElse(s.id, Nil))) / 1e3).sum
    }
  }

  /** Layer counters summed over the traced window. */
  def counts(): Map[String, Double] = {
    val c = counters.asScala.toMap.map { case (k, v) => k -> v.doubleValue() }
    val qs = tracedQueries.map(_._1)
    val jobList = tracedJobs
    // planning windows: a job submitted inside one ran while planning
    val windows = qs.flatMap(_.planPhases.filter(_._1 != "analysis").map(p => (p._2, p._3)))
    val probeJobs = jobList.count(j => windows.exists { case (s, e) => j.start >= s && j.start <= e })
    // driver gap: job wall time during which none of its tasks ran
    val gap = jobList.map { j =>
      val iv = j.stages.flatMap(s => Option(stageRecs.get(s)).toSeq.flatMap(r => r.synchronized(r.intervals.toList)))
      math.max(0.0, (j.end - j.start) - union(iv, j.start, j.end))
    }.sum / 1e3
    c ++ Map(
      "plans.plan_s" -> qs.map(_.planPhases.map(p => p._3 - p._2).sum).sum / 1e3,
      "plans.queries" -> qs.size.toDouble,
      "plans.probe_jobs" -> probeJobs.toDouble,
      "plans.kernel_plans" -> qs.count(_.kernel).toDouble,
      "plans.row_agg_plans" -> qs.count(_.rowAgg).toDouble,
      "agg.groups" -> qs.map(_.groups).sum.toDouble,
      "driver.gap_s" -> gap)
  }

  /** Jobs and tasks started under the spans in `ids` (e.g. one MICE call). */
  def jobsAndTasksUnder(spanIds: Set[Long]): (Long, Long) = {
    val js = jobs.values().asScala.filter(j => spanIds.contains(j.span))
    (js.size.toLong, js.toSeq.flatMap(_.stages).flatMap(s => Option(stageRecs.get(s))).map(_.tasks).sum)
  }

  def ownSpans: Seq[Span] = own.asScala.toSeq
}

object Tracer {
  /** Layers of the span tree: the benchmark's own pass and request
    * spans, the public-call layers, and the Spark-side layers. */
  val layers: Seq[String] = Seq("bench", "agg", "ml", "mice", "plans", "driver", "exec")
  val SpanProp = "perfbench.span"
  val MarkerProp = "perfbench.marker"

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, lo); val e = math.min(e0, hi)
      if (e > s) {
        if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def covered(s: Span, children: Seq[Span]): Double =
    union(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** Plan traversal that descends into adaptive query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def collect(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
}
