package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: set up one workload, drive it in a closed loop
 * with one client for `--seconds`, check every output, and write the
 * result. With `--trace 1` the jobs of the window alternate between
 * untraced and traced, which gives the per-layer figures and the
 * tracing overhead from the same process.
 *
 * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *        --out DIR [--scale full|tiny] [--corrupt]
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, scale: String, corrupt: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < a.length) {
      if (a(i) == "--corrupt") { kv("corrupt") = "1"; i += 1 }
      else {
        require(a(i).startsWith("--") && i + 1 < a.length, s"bad argument ${a(i)}")
        kv(a(i).drop(2)) = a(i + 1); i += 2
      }
    }
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("out"), kv.getOrElse("scale", "full"), kv.contains("corrupt"))
    require(Workload.names.contains(args.workload), s"workload must be one of ${Workload.names.mkString(", ")}")
    require(Set("full", "tiny").contains(args.scale), "scale must be full or tiny")
    args
  }

  /** Current and peak bytes of cached RDD blocks, from block updates. */
  final class BlockWatch extends SparkListener {
    private val sizes = mutable.Map[String, Long]()
    private var current = 0L
    private var peakSince = 0L
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        current += now - sizes.getOrElse(key, 0L)
        if (now == 0L) sizes.remove(key) else sizes(key) = now
        peakSince = math.max(peakSince, current)
      }
    }
    def reset(): Unit = synchronized { peakSince = current }
    def peakMb: Double = synchronized { peakSince / 1e6 }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args.out).toAbsolutePath
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // cofactor buffers are small; keep 100k-key grouped aggregates in the hash map
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .getOrCreate()
    try run(spark, args, cores, work, (System.nanoTime() - t0) / 1e9)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, cores: Int, work: java.nio.file.Path, sessionS: Double): Unit = {
    Graft.register(spark)
    Graft.enableSqlKernels(spark)
    val sizes = if (args.scale == "tiny") Gen.tiny else Gen.full
    val dataDir = work.resolve(s"data-${args.workload}").toString
    val ctx = Ctx(spark, args.seed, sizes, dataDir, args.corrupt)
    val wl = Workload(args.workload, ctx)
    val blocks = new BlockWatch
    spark.sparkContext.addSparkListener(blocks)

    // set-up: generating, writing and reading back the inputs is
    // repeated and its median taken; the warm-up passes (first calls,
    // code generation, JIT) only cost once per process, so they run once
    val warmRec = new Recorder(None)
    val genReps = if (args.scale == "tiny") 1 else 3
    val genTimes = (1 to genReps).map { _ =>
      val s0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    for (_ <- 1 to wl.warmPasses) {
      warmRec.pass(wl.pass(warmRec))
      wl.afterPass(warmRec)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(genTimes) + warmS

    val rec = new Recorder(None)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val trec = tracer.map(t => new Recorder(Some(t)))
    val peaks = mutable.ArrayBuffer[Double]()
    var afterS = 0.0
    // Closed loop: the next job starts only when the last has finished,
    // and only if a typical job still fits in the window. A traced run
    // alternates untraced and traced jobs, so both halves see the same
    // JIT state and their difference is the tracing overhead.
    val turns = rec +: trec.toSeq
    val allPasses = mutable.ArrayBuffer[Double]()
    tracer.foreach(_.start())
    val start = System.nanoTime()
    def left = args.seconds - (System.nanoTime() - start) / 1e9
    while (allPasses.size < turns.size || left > Stats.median(allPasses.toSeq) / 2) {
      val r = turns(allPasses.size % turns.size)
      blocks.reset()
      r.pass(wl.pass(r))
      allPasses += r.passTimes.last
      if (r.tracer.isEmpty) peaks += blocks.peakMb
      val a0 = System.nanoTime()
      wl.afterPass(r)
      afterS += (System.nanoTime() - a0) / 1e9
    }
    tracer.foreach(_.stop())

    // output checks, outside the timed region
    val checkRec = new Recorder(None)
    val c0 = System.nanoTime()
    wl.check(checkRec)
    val checkS = (System.nanoTime() - c0) / 1e9

    val all = Seq(warmRec, rec, checkRec) ++ trec
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val failures = all.flatMap(_.failures)
    failures.take(10).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val e2e = endToEnd(rec, setupS)
    val report = mutable.LinkedHashMap[String, (Double, String)]()
    e2e.foreach { case (k, v) => report(k) = v }
    Stats.tailPercentile(rec.requestTimes.size).foreach { p =>
      report(s"request_p${p}_s") = (Stats.quantile(rec.requestTimes.toSeq, p / 100.0), "s")
    }
    rec.byName.foreach { case (name, ts) => report(s"request.$name.p50_s") = (Stats.median(ts.toSeq), "s") }
    report("request_samples") = (rec.requestTimes.size.toDouble, "count")
    report("job_samples") = (rec.passTimes.size.toDouble, "count")
    report("peak_cached_mb") = (if (peaks.isEmpty) 0.0 else Stats.median(peaks.toSeq), "MB")
    report("failed_frac") = (failed.toDouble / math.max(1L, attempted), "fraction")
    wl.quality.foreach { case (k, v) => report(k) = (v, if (k == "impute_acc") "fraction" else "ratio") }
    report("session_start_s") = (sessionS, "s")

    val perLayer = tracer.map(t => layers(wl, rec, trec.get, t, cores, args, work))
    val metrics = if (args.trace) perLayer.get else e2e

    println(s"perfbench ${args.workload} seed=${args.seed} scale=${args.scale} cores=$cores " +
      sizes.toMap.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    (report ++ perLayer.getOrElse(Map.empty)).foreach { case (k, (v, u)) => println(f"  $k%-28s $v%.6g $u") }

    val result = Json.obj(Seq(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString, "scale" -> Json.str(args.scale),
      "cores" -> cores.toString, "seconds" -> Json.num(args.seconds),
      "sizes" -> Json.obj(sizes.toMap.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "setup_generate_s" -> Json.arr(genTimes.map(Json.num)), "setup_warm_s" -> Json.num(warmS),
      "check_s" -> Json.num(checkS), "after_pass_s" -> Json.num(afterS),
      "job_times_s" -> Json.arr(rec.passTimes.toSeq.map(Json.num)),
      "report" -> Json.obj((report ++ perLayer.getOrElse(Map.empty)).toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "failures" -> Json.arr(failures.map(Json.str)),
      "result" -> result))
    val stem = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.write(work.resolve(s"$stem.json"), detail.getBytes(StandardCharsets.UTF_8))
    Files.write(work.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
  }

  /** The gated end-to-end metrics, from the untraced loop. */
  private def endToEnd(rec: Recorder, setupS: Double): Seq[(String, (Double, String))] = {
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val reqSum = rec.requestTimes.sum
    Seq(
      "setup_s" -> (setupS, "s"),
      "job_s" -> (med(rec.passTimes), "s"),
      // median over request types of each type's median: a fixed mix of
      // types with distinct latencies would make a pooled median jump
      "request_p50_s" -> (med(rec.byName.values.map(ts => Stats.median(ts.toSeq))), "s"),
      "rows_per_s" -> (if (reqSum > 0) rec.rows / reqSum else 0.0, "rows/s"))
  }

  /** Per-layer figures per traced workload job (pass);
    * also writes the span file and the self-time summary. */
  private def layers(wl: Workload, untraced: Recorder, trec: Recorder, tracer: Tracer, cores: Int,
                     args: Args, work: java.nio.file.Path): Seq[(String, (Double, String))] = {
    val passes = math.max(1, trec.passTimes.size).toDouble
    val spans = tracer.spans()
    val self = tracer.selfTime(spans)
    val c = tracer.counts()
    def per(k: String) = c.getOrElse(k, 0.0) / passes
    val own = tracer.ownSpans
    def spanSum(layer: String) = own.filter(_.layer == layer).map(_.dur).sum / 1e3 / passes
    val miceCalls = own.filter(_.layer == "mice").map(_.id).toSet
    val (miceJobs, miceTasks) = tracer.jobsAndTasksUnder(miceCalls)
    val steps = math.max(1, wl.steps * trec.passTimes.size).toDouble
    def phase(p: String => Boolean) = trec.phases.filter(kv => p(kv._1)).values.sum / passes
    val jobWall = trec.passTimes.sum / passes
    val overhead = Stats.median(trec.passTimes.toSeq) - Stats.median(untraced.passTimes.toSeq)
    val out = Seq(
      "sources.rows" -> (per("sources.rows"), "rows/job"),
      "sources.mb" -> (per("sources.mb"), "MB/job"),
      "sources.scan_s" -> (per("sources.scan_s"), "s/job"),
      "agg.call_s" -> (spanSum("agg"), "s/job"),
      "agg.build_s" -> (per("agg.build_s"), "s/job"),
      "agg.groups" -> (per("agg.groups"), "count/job"),
      "plans.plan_s" -> (per("plans.plan_s"), "s/job"),
      "plans.queries" -> (per("plans.queries"), "count/job"),
      "plans.probe_jobs" -> (per("plans.probe_jobs"), "count/job"),
      "plans.kernel_plans" -> (per("plans.kernel_plans"), "count/job"),
      "plans.row_agg_plans" -> (per("plans.row_agg_plans"), "count/job"),
      "driver.result_mb" -> (per("driver.result_mb"), "MB/job"),
      "driver.gap_s" -> (per("driver.gap_s"), "s/job"),
      "ml.train_s" -> (spanSum("ml") + phase(_ == "train"), "s/job"),
      "mice.prepare_s" -> (phase(_ == "prepare"), "s/job"),
      "mice.partition_s" -> (phase(_ == "partition"), "s/job"),
      "mice.cofactor_s" -> (phase(_.startsWith("cofactor")), "s/job"),
      "mice.train_s" -> (phase(_ == "train"), "s/job"),
      "mice.impute_update_s" -> (phase(_ == "impute_update"), "s/job"),
      "mice.jobs_per_step" -> (if (wl.steps == 0) 0.0 else miceJobs / steps, "count/step"),
      "mice.tasks_per_step" -> (if (wl.steps == 0) 0.0 else miceTasks / steps, "count/step"),
      "checkpoint.written_mb" -> (per("checkpoint.written_mb"), "MB/job"),
      "checkpoint.retained_mb" -> (if (trec.retainedMb.isEmpty) 0.0 else trec.retainedMb.sum / trec.retainedMb.size, "MB/job"),
      "exec.jobs" -> (per("exec.jobs"), "count/job"),
      "exec.stages" -> (per("exec.stages"), "count/job"),
      "exec.tasks" -> (per("exec.tasks"), "count/job"),
      "exec.run_s" -> (per("exec.run_s"), "s/job"),
      "exec.cpu_s" -> (per("exec.cpu_s"), "s/job"),
      "exec.gc_s" -> (per("exec.gc_s"), "s/job"),
      "exec.busy_frac" -> (if (jobWall > 0) per("exec.run_s") / (jobWall * cores) else 0.0, "fraction"),
      "exec.shuffle_write_mb" -> (per("exec.shuffle_write_mb"), "MB/job"),
      "exec.shuffle_read_mb" -> (per("exec.shuffle_read_mb"), "MB/job"),
      "exec.spill_mb" -> (per("exec.spill_mb"), "MB/job")) ++
      Tracer.layers.map(l => s"self.$l" -> (self.getOrElse(l, 0.0) / passes, "s/job")) ++
      Seq("trace.overhead_s" -> (overhead, "s"))

    val stem = s"${args.workload}-seed${args.seed}"
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
    }
    Files.write(work.resolve(s"$stem.spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(work.resolve(s"$stem.layers.json"), Json.obj(Seq(
      "workload" -> Json.str(args.workload), "traced_jobs" -> trec.passTimes.size.toString,
      "self_time_s_per_job" -> Json.obj(Tracer.layers.map(l => l -> Json.num(self.getOrElse(l, 0.0) / passes))),
      "traced_job_s" -> Json.num(Stats.median(trec.passTimes.toSeq)),
      "untraced_job_s" -> Json.num(Stats.median(untraced.passTimes.toSeq)),
      "tracing_overhead_s" -> Json.num(overhead))).getBytes(StandardCharsets.UTF_8))
    out
  }
}

/** Minimal JSON text builders; values arrive already rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
