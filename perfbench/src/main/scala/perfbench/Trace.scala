package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded interval. Times are microseconds on the epoch clock so that
  * spans the benchmark records and intervals Spark reports (epoch
  * milliseconds) line up. `parent` is -1 for a root.
  */
final case class Span(id: Int, layer: String, name: String, startUs: Long, endUs: Long,
    parent: Int, op: Int) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L
}

/** In-memory span recorder around the calls the benchmark makes into each
  * layer. Disabled, it only runs the wrapped code. Spans from Spark (jobs,
  * planning phases) are attached to the innermost benchmark span of the
  * same operation that contains their start.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def all: Seq[Span] = spans.toSeq

  /** A span for one operation; the operation id groups its spans. Nested in
    * another operation, it keeps the outer operation's id.
    */
  def operation[T](layer: String, name: String, opId: Int)(f: => T): T =
    if (!enabled) f
    else {
      if (stack.isEmpty) op = opId
      span(layer, name)(f)
    }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val start = Clock.nowUs
      spans += Span(id, layer, name, start, start, parent, op)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endUs = Clock.nowUs)
      }
    }

  /** Attach an externally timed interval, clipped to its host: the
    * innermost span of operation `opId` containing its start. Dropped when
    * no span of that operation contains it.
    */
  def attach(layer: String, name: String, startUs: Long, endUs: Long, opId: Int): Unit =
    if (enabled) {
      val host = spans.iterator
        .filter(s => s.op == opId && s.startUs <= startUs && startUs <= s.endUs)
        .maxByOption(s => (s.startUs, s.id))
      host.foreach(h => spans += Span(spans.length, layer, name, startUs,
        math.max(startUs, math.min(endUs, h.endUs)), h.id, opId))
    }
}

object Trace {

  /** Self time of every span: the part of its interval not covered by any
    * child, overlapping children counted once. Where children overlap each
    * other, the shared time goes to the one that started last, so the self
    * times under a root add up to the root's duration.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    val depth = scala.collection.mutable.Map.empty[Int, Int]
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id, if (s.parent < 0) 0 else depthOf(byId(s.parent)) + 1)
    val self = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.groupBy(s => rootId(byId)(s)).foreach { case (_, group) =>
      val cuts = group.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val active = group.filter(s => s.startUs <= a && s.endUs >= b)
        if (active.nonEmpty) {
          val owner = active.maxBy(s => (depthOf(s), s.startUs, s.id))
          self(owner.id) += b - a
        }
      }
    }
    spans.map(s => s.id -> self(s.id)).toMap
  }

  private def rootId(byId: Map[Int, Span])(s: Span): Int =
    if (s.parent < 0) s.id else rootId(byId)(byId(s.parent))

  /** Root span of each span. */
  def roots(spans: Seq[Span]): Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    spans.map(s => s.id -> root(s)).toMap
  }

  /** Per layer, self time summed over the spans under roots of `phase`. */
  def layerSelfUs(spans: Seq[Span], phase: String): Map[String, Long] = {
    val self = selfTimes(spans)
    val root = roots(spans)
    spans.filter(s => root(s.id).layer == phase)
      .groupMapReduce(_.layer)(s => self(s.id))(_ + _)
  }

  def phaseUs(spans: Seq[Span], phase: String): Long =
    spans.filter(s => s.parent < 0 && s.layer == phase).map(_.durUs).sum
}
