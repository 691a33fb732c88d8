package graft.perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced part of a run. A span is opened
  * around every call the benchmark makes into a layer; while it is open
  * the thread's Spark job group is the span id, so the listener can
  * attribute each job to it. Outside `during`, `span` only runs its body. */
final class Trace(sc: SparkContext, val runId: String) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var on = false

  def enabled: Boolean = on

  /** Trace `body` under the root span `bench.traced`. */
  def during[T](body: => T): T = {
    on = true
    try span("bench.traced")(body) finally on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val start = Clock.ms()
      try body
      finally {
        spans += Span(id, parent, name, start, Clock.ms())
        stack = stack.tail
        if (parent == 0) sc.clearJobGroup()
        else sc.setJobGroup(s"span-$parent", "", interruptOnCancel = false)
      }
    }

  /** Record an already-measured interval as a child of `parent` (used for
    * sub-steps of a single public call, e.g. the stages RunManifest
    * reports). */
  def record(name: String, start: Double, end: Double, parent: Int): Unit =
    if (enabled) {
      nextId += 1
      spans += Span(nextId, parent, name, start, end)
    }

  def all: Seq[Span] = spans.toSeq

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of it that the span's children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    (s.end - s.start - Probe.covered(kids)) / 1e3
  }

  /** Share of the root span that its children account for. */
  def coverage: Double = named("bench.traced").lastOption
    .map(r => 1.0 - selfS(r) / math.max(r.durS, 1e-9)).getOrElse(0.0)
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        start: Double, end: Double) {
    def durS: Double = (end - start) / 1e3
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the listener's epoch-ms event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
