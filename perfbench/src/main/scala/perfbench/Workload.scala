package perfbench

/** A named metric: a workload's end-to-end detail (e.g. `point_read_p50_ms`)
  * or a per-layer number.
  */
final case class Metric(name: String, value: Double, unit: String)

/** One workload: seeded inputs, a set-up that stores them, and a closed
  * loop (one client) of fixed blocks of operations, each checked against the
  * generator's ground truth.
  */
trait Workload {
  def name: String

  /** The operation kind whose median latency is the gated `op_p50_ms`. */
  def headline: String

  /** Step kinds of one block; the loop runs whole blocks, so every run
    * executes the same mix.
    */
  def block: Seq[String]

  /** Generate the inputs from the seed and store them under `dir`. */
  def setup(env: Env, dir: String): Unit

  /** Untimed operations run after set-up, before anything is measured. */
  def warmup(env: Env): Unit

  /** Step `i` of the seeded stream: its timed, checked operations. */
  def op(env: Env, i: Int): Seq[Outcome]

  /** Work timed once after the loop (maintenance) and final oracles. */
  def finish(env: Env): Seq[Outcome] = Nil

  /** The workload's named end-to-end detail metrics. */
  def details(outcomes: Seq[Outcome]): Seq[Metric]
}

object Workload {
  def p50(outcomes: Seq[Outcome], kind: String): Double =
    Stats.median(outcomes.filter(_.kind == kind).map(_.ms))

  /** `<prefix>_tail_ms` with the percentile and sample count it rests on;
    * with ten samples or fewer there is no such percentile and only the
    * sample count is reported.
    */
  def tail(outcomes: Seq[Outcome], kind: String, prefix: String): Seq[Metric] = {
    val xs = outcomes.filter(_.kind == kind).map(_.ms)
    Stats.tail(xs) match {
      case Some(t) => Seq(Metric(s"${prefix}_tail_ms", t.value, "ms"),
        Metric(s"${prefix}_tail_percentile", t.percentile, "%"),
        Metric(s"${prefix}_samples", t.samples.toDouble, "count"))
      case None => Seq(Metric(s"${prefix}_samples", xs.length.toDouble, "count"))
    }
  }
}
