package perfbench

import java.util.Locale

/** Output formatting that does not depend on the JVM's default locale. */
object Json {

  /** A finite number, plain (no exponent), with every digit of its
    * shortest round-trip form and always at least one fractional digit.
    */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    val s = java.math.BigDecimal.valueOf(x).toPlainString
    if (s.contains('.')) s else s + ".0"
  }

  def num(x: Long): String = num(x.toDouble)

  /** A fixed-precision label such as a percentile rank, in Locale.ROOT. */
  def fixed(x: Double, decimals: Int): String = String.format(Locale.ROOT, s"%.${decimals}f", Double.box(x))

  /** The sidecar: a tree of Scala maps, sequences and plain values. */
  def sidecar(tree: Map[String, Any]): String =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
      .writeValueAsString(tree)

  /** The metric line: every metric by name with its value and unit. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    // names and units are made of letters, digits and `_./%-` only
    def str(s: String) = { require(s.forall(c => c.isLetterOrDigit || "_./%-".contains(c)), s); s"\"$s\"" }
    val ms = metrics.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
