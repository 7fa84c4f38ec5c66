package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall and process CPU time of one operation, in milliseconds. CPU time is
  * every thread of the JVM (the client, Spark's tasks and scheduler, JIT and
  * GC) and leaves out time the host did not run the process.
  */
final case class Took(ms: Double, cpuMs: Double)

object Took {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def of[T](f: => T): (T, Took) = {
    val (t0, c0) = (System.nanoTime(), cpuNs)
    val r = f
    (r, Took((System.nanoTime() - t0) / 1e6, (cpuNs - c0) / 1e6))
  }
}

/** One timed operation of a workload's closed loop. `units` is the work it
  * completed where a throughput metric counts it (rows scanned, documents
  * deduplicated), `ok` whether its oracle agreed.
  */
final case class Outcome(kind: String, took: Took, ok: Boolean, units: Long = 0L) {
  def ms: Double = took.ms
  def cpuMs: Double = took.cpuMs
}

/** What a workload gets: the session and, in a traced run, the tracer and
  * probe behind [[call]].
  */
final class Env(val spark: SparkSession, val tracer: Tracer, val probe: Option[Probe]) {

  /** Per `layer.name`: count deltas of every traced call into it. */
  val layerCounts: mutable.Map[String, Counts] = mutable.LinkedHashMap.empty
  /** Extra per-layer counts a workload records (labels kept, files added...). */
  val extra: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def traced: Boolean = tracer.enabled

  /** Counts of the Spark work oracles did, left out of the layer counts. */
  var oracleCounts: Counts = Counts()

  /** Run an oracle's own read of the program's output. */
  def oracle[T](f: => T): T = probe match {
    case Some(p) if traced =>
      val before = p.counts()
      val r = f
      oracleCounts = oracleCounts + (p.counts() - before)
      r
    case _ => f
  }

  def add(key: String, v: Double): Unit = extra(key) = extra.getOrElse(key, 0.0) + v

  /** Run `f` as a call into `layer`; traced, also record its span and its
    * count deltas under `layer.name`.
    */
  def call[T](layer: String, name: String)(f: => T): T = probe match {
    case Some(p) if traced =>
      val before = p.counts()
      val r = tracer.span(layer, name)(f)
      val key = s"$layer.$name"
      layerCounts(key) = layerCounts.getOrElse(key, Counts()) + (p.counts() - before)
      r
    case _ => f
  }

  /** Time one operation of the loop as a root span. */
  def timed[T](kind: String, opId: Int)(f: => T): (T, Took) = Took.of(tracer.operation("op", kind, opId)(f))

  /** Checked operations so far; each failed check is also in [[failures]]. */
  var checks = 0L

  /** An operation whose only check is that it returned. */
  def completed(): Boolean = check(ok = true, "")

  def check(ok: Boolean, what: => String): Boolean = {
    checks += 1
    if (!ok) failures += what
    ok
  }
}

/** Materialization by checksum: count and the sum of a CRC32 over each
  * row's columns, in a fixed order, cast to strings. The generator's ground
  * truth computes the same pair in plain Scala.
  */
object Checksum {
  def of(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h = crc32(concat_ws("|", cols.map(c => col(c).cast("string")): _*))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def crc(parts: Seq[Any]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(parts.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  def ofRows(rows: Iterator[Seq[Any]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) => (n + 1, s + crc(r)) }
}
