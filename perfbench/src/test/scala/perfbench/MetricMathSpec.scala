package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetricMathSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.samples == 100 && t.beyond == 10)
  }

  test("tail rank follows the sample count") {
    val t = Stats.tail((1 to 37).map(_.toDouble)).get
    assert(t.value == 27.0)
    assert(math.abs(t.percentile - 100.0 * 27 / 37) < 1e-12)
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
  }

  test("no tail without more than ten samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("kept ratio is labels kept over labels the dataset holds") {
    assert(Stats.keptRatio(25, 1000) == 0.025)
    assert(Stats.keptRatio(1000, 1000) == 1.0)
    assertThrows[IllegalArgumentException](Stats.keptRatio(0, 0))
  }

  test("stored bytes per user byte uses the generator's logical bytes as base") {
    assert(Stats.storedPerUserByte(1500, 1000) == 1.5)
    assertThrows[IllegalArgumentException](Stats.storedPerUserByte(10, 0))
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 31L))) == 21L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  private def span(id: Int, start: Long, end: Long, parent: Int, layer: String = "x") =
    Span(id, layer, s"s$id", start, end, parent, 0)

  test("self time subtracts children") {
    val spans = Seq(span(0, 0, 100, -1), span(1, 10, 30, 0), span(2, 50, 60, 0))
    val self = Trace.selfTimes(spans)
    assert(self == Map(0 -> 70L, 1 -> 20L, 2 -> 10L))
  }

  test("overlapping children are subtracted from the parent once") {
    // children [10, 40) and [30, 60) cover 50 of the parent's 100
    val spans = Seq(span(0, 0, 100, -1), span(1, 10, 40, 0), span(2, 30, 60, 0))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 50L)
    // the shared [30, 40) goes to the child that started last
    assert(self(1) == 20L && self(2) == 30L)
    assert(self.values.sum == 100L)
  }

  test("grandchildren count against their own parent, not the root") {
    val spans = Seq(span(0, 0, 100, -1), span(1, 0, 50, 0), span(2, 10, 20, 1), span(3, 15, 40, 1))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 50L)
    assert(self(1) == 20L)
    assert(self(2) + self(3) == 30L)
  }

  test("layer self time and phase totals") {
    val spans = Seq(span(0, 0, 100, -1, "op"), span(1, 10, 30, 0, "prune"), span(2, 30, 90, 0, "exec"),
      span(3, 40, 50, 2, "catalyst"), Span(4, "setup", "setup", 200, 260, -1, -1))
    assert(Trace.layerSelfUs(spans, "op") == Map("op" -> 20L, "prune" -> 20L, "exec" -> 50L, "catalyst" -> 10L))
    assert(Trace.phaseUs(spans, "op") == 100L)
    assert(Trace.phaseUs(spans, "setup") == 60L)
  }

  test("attached intervals are clipped to their host") {
    val t = new Tracer(true)
    t.operation("op", "read", 7)(Thread.sleep(2))
    val root = t.all.head
    t.attach("exec", "job0", root.startUs, root.endUs + 5000, 7)
    t.attach("exec", "job1", root.endUs + 10, root.endUs + 20, 7)
    val jobs = t.all.filter(_.layer == "exec")
    assert(jobs.map(_.name) == Seq("job0"))
    assert(jobs.head.endUs == root.endUs && jobs.head.parent == root.id)
  }
}
