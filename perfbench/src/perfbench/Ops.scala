package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** The closed-loop client's record: every operation gets a status, only
  * the ones that succeed become latency samples. A failure is counted,
  * named on stderr, and never timed. `after` runs after every operation,
  * outside its timing. A warm-up's record (`tracing` off) traces nothing. */
final class Ops(tracer: Tracer, after: () => Unit = () => (), tracing: Boolean = true) {
  /** Latency samples (ms) per operation kind, in order. A traced run
    * traces the second, fourth, ... operation of each kind; those land in
    * `tracedSamples`. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  private val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  def apply[A](kind: String)(f: => A): Option[A] = {
    attempted += 1
    tracer.op += 1
    tracer.active = tracing && seen(kind) % 2 == 1
    seen(kind) += 1
    val into = if (tracer.enabled && tracer.active) tracedSamples else samples
    try tracer.listening {
      val t0 = System.nanoTime()
      val r = tracer.span(kind)(f)
      into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $kind: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
        None
    } finally after()
  }

  /** The median latency of one kind's untraced samples. */
  def medianOf(kind: String): Double = Stats.median(samples(kind).toSeq)

  /** The mean over `kinds` of each kind's median latency. */
  def meanOfMedians(kinds: Iterable[String]): Double =
    kinds.map(medianOf).sum / kinds.size

  /** Every sample of one kind, traced or not. */
  def of(kind: String): Seq[Double] =
    samples.getOrElse(kind, Nil).toSeq ++ tracedSamples.getOrElse(kind, Nil)

  /** Traced against untraced operations of a traced run: the summed
    * per-kind medians, as a percentage above the untraced ones. An
    * untraced operation runs without spans, job groups and the job
    * listener, as in an untraced run. */
  def overheadPct: Double = {
    val kinds = tracedSamples.keySet.intersect(samples.keySet).toSeq
    if (kinds.isEmpty) 0.0
    else 100 * (kinds.map(k => Stats.median(tracedSamples(k).toSeq)).sum /
      kinds.map(medianOf).sum - 1)
  }

  /** Whether every kind that has a sample also has a traced one. */
  def eachKindTraced: Boolean = samples.keySet.subsetOf(tracedSamples.keySet)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
