package perfbench

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

class OutputSpec extends AnyFunSuite {

  private def underLocale[T](l: Locale)(f: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try f finally Locale.setDefault(saved)
  }

  test("numbers keep a decimal point under a comma-decimal default locale") {
    underLocale(Locale.GERMANY) {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5") // the hazard
      assert(Json.num(1234.5678) == "1234.5678")
      assert(Json.num(3.0) == "3.0")
      assert(Json.num(7L) == "7.0")
      assert(Json.num(1.0e-7) == "0.00000010")
      assert(Json.num(2.5e12) == "2500000000000.0")
      assert(Json.fixed(91.666, 2) == "91.67")
    }
  }

  test("the result line is pinned byte for byte under a comma-decimal locale") {
    val line = underLocale(new Locale("fr", "FR")) {
      Json.resultLine(correct = true, attempted = 12, failed = 0,
        metrics = Seq(("op_p50_ms", 123.456789, "ms"), ("setup_s", 4.0, "s")))
    }
    assert(line ==
      """{"correct": true, "attempted": 12, "failed": 0, "metrics": {"op_p50_ms": {"value": 123.456789, "unit": "ms"}, "setup_s": {"value": 4.0, "unit": "s"}}}""")
  }

  test("non-finite values are refused") {
    assertThrows[IllegalArgumentException](Json.num(Double.NaN))
    assertThrows[IllegalArgumentException](Json.num(Double.PositiveInfinity))
  }

  test("the sidecar reads back as the tree it was written from") {
    val text = Json.sidecar(Map("b" -> 1.5, "a" -> Seq("x\"y", 2L), "m" -> Map("ok" -> true)))
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(back.get("b").asDouble == 1.5)
    assert(back.get("a").get(0).asText == "x\"y" && back.get("a").get(1).asLong == 2L)
    assert(back.get("m").get("ok").asBoolean)
  }

  test("metric names and units outside the allowed characters are refused") {
    assertThrows[IllegalArgumentException](Json.resultLine(correct = true, 1, 0, Seq(("a\"b", 1.0, "ms"))))
  }

  test("BENCHMARK.json declares exactly the metrics the runs print") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = {
      val it = root.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    }
    assert(names("end_to_end") == Runner.EndToEnd)
    assert(names("per_layer") == Layers.PerLayer)
    val workloads = root.get("workloads").elements()
    val declared = Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText()).toSeq
    declared.foreach(w => assert(Main.workload(w, 1L).name == w))
  }
}
