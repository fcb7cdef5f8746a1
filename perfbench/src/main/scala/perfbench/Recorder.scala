package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/**
 * Closed-loop bookkeeping for one client: request latencies, pass
 * (workload job) times, rows read, attempts and failures. With a
 * [[Tracer]] every pass, request and public call also becomes a span.
 */
final class Recorder(val tracer: Option[Tracer]) {
  val passTimes = ArrayBuffer[Double]()
  val requestTimes = ArrayBuffer[Double]()
  val byName = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var rows = 0L
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  /** MICE phase seconds (`Mice.Timings`) summed over this recorder's passes. */
  val phases = scala.collection.mutable.Map[String, Double]()
  /** Checkpoint MB still cached after each pass's result was consumed. */
  val retainedMb = ArrayBuffer[Double]()
  private var passTime = 0.0

  private def span[T](layer: String, name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(layer, name)(f)
    case None => f
  }

  /** One workload job: its time is the sum of its requests' times. */
  def pass(f: => Unit): Unit = {
    passTime = 0.0
    span("bench", "job")(f)
    passTimes += passTime
  }

  /** One user-visible request reading `inputRows` rows. A throw counts
    * as a failed request; its time is not a latency sample. */
  def request[T](name: String, inputRows: Long)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span("bench", name)(f)
      val dt = (System.nanoTime() - t0) / 1e9
      requestTimes += dt
      byName.getOrElseUpdate(name, ArrayBuffer[Double]()) += dt
      passTime += dt
      rows += inputRows
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$name threw $e")
        None
    }
  }

  /** One public call into the engine, attributed to `layer`. */
  def call[T](layer: String, name: String)(f: => T): T = span(layer, name)(f)

  /** Record a failed output check of an already attempted request. */
  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }
}
