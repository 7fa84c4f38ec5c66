package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The Bench stdout line must parse with tools/bench_adjudicate.py's
  * `QUERY_RE` whatever the JVM's default locale.
  */
class BenchFormatSpec extends AnyFunSuite with Matchers {

  // tools/bench_adjudicate.py QUERY_RE, verbatim
  private val QueryRe = "\"(q[_0-9a-zA-Z]+)\":([0-9]+\\.[0-9]+)[,}]".r

  private def underLocale[T](l: java.util.Locale)(body: => T): T = {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(l)
    try body finally java.util.Locale.setDefault(saved)
  }

  test("fmt keeps one fractional digit and a decimal point under de_DE") {
    underLocale(java.util.Locale.GERMANY) {
      Bench.fmt(2.0) shouldBe "2.0"
      Bench.fmt(0.0) shouldBe "0.0"
      Bench.fmt(2.5) shouldBe "2.5"
      Bench.fmt(1.23456) shouldBe "1.235"
      Bench.fmt(0.1004) shouldBe "0.1"
      Bench.fmt(12.34) shouldBe "12.34"
    }
  }

  test("every query of the summary line matches QUERY_RE under de_DE") {
    val results = Map("q_a" -> 2.0, "q_b" -> 0.0, "q_c" -> 1.23456, "q_d" -> 0.0004,
      "q_e" -> 123.4, "q_f" -> 0.1235)
    val line = underLocale(java.util.Locale.GERMANY)(Bench.summaryLine(results, "/sf"))
    val parsed = QueryRe.findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap
    parsed.keySet shouldBe results.keySet
    parsed("q_a") shouldBe "2.0"
    parsed("q_b") shouldBe "0.0"
    parsed("q_d") shouldBe "0.0"
    parsed("q_f") shouldBe "0.124" // HALF_UP on the shortest decimal form
    parsed.foreach { case (q, v) => v.toDouble shouldBe results(q) +- 0.0005 }
    line should include("\"value\":126.758")
  }
}
