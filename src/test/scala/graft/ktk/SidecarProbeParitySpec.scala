package graft.ktk

import scala.util.{Failure, Success, Try}

import graft.SparkSpec
import graft.core.{PredLiteral, PredOp}

/** The driver-side index and zone-map probes return exactly the label sets
  * of the distributed expressions they replaced ([[SidecarOracle]]). Where
  * the oracle throws (an ANSI cast error), the probe throws the same
  * exception class.
  */
class SidecarProbeParitySpec extends SparkSpec {
  import SidecarProbeParitySpec._
  import spark.implicits._

  private lazy val (base, md) = {
    val b = tmpDir("probeparity")
    val cols = Seq("l", "i", "s", "d", "t", "m", "x")
    val m = Ktk.store(spark, b, "pp", rows.toDF().repartition(4), partitionOn = Seq("p"),
      secondaryIndices = cols, zoneMapFor = cols)
    (b, m)
  }

  /** A value's literals under every op share one oracle scan per sidecar,
    * and so do the column's three `in` literals.
    */
  private def groups(c: String, vals: Seq[Any], big: Seq[Any]): Seq[Seq[PredLiteral]] =
    vals.map(v => ops.map(o => PredLiteral(c, PredOp.fromString(o), v))) :+
      Seq(PredLiteral(c, PredOp.In, vals), PredLiteral(c, PredOp.In, Seq.empty),
        PredLiteral(c, PredOp.In, big))

  /** Compares, and returns the oracle's label set (None when it threw). */
  private def same(tag: String, oracle: Try[Set[String]],
      probe: => Option[Set[String]]): Option[Set[String]] =
    (oracle, Try(probe.get)) match {
      case (Success(want), Success(got)) =>
        withClue(tag) { got shouldBe want }
        Some(want)
      case (Failure(want), Failure(got)) =>
        withClue(s"$tag: $want vs $got") { got.getClass shouldBe want.getClass }
        None
      case (want, got) => fail(s"$tag: oracle $want, probe $got")
    }

  for ((c, vals, big) <- cases) {
    test(s"index and zone probes on column '$c' return the distributed label sets") {
      val all = md.partitions.keySet
      val outcomes = groups(c, vals, big).flatMap { ls =>
        val index = SidecarOracle.index(spark, md.indexPath(base, c), ls)
        val zone = SidecarOracle.zone(spark, md.zonePath(base, c), md.schema(c).dataType, ls)
        ls.indices.flatMap { i =>
          val l = ls(i)
          Seq(same(s"index $l", index(i), Sidecars.Index.probe(spark, base, md, l)),
            same(s"zone $l", zone(i), Sidecars.Zone.probe(spark, base, md, l)))
        }
      }
      // the cases prune: some literals keep a strict, non-empty subset
      outcomes.flatten.exists(s => s.nonEmpty && s != all) shouldBe true
    }
  }

  test("literals whose cast fails under ANSI throw on both sides") {
    val bad = Seq(PredLiteral("l", PredOp.Eq, "abc"), PredLiteral("s", PredOp.Eq, 5),
      PredLiteral("d", PredOp.Lt, "not-a-date"))
    bad.foreach { l =>
      val want = Try(SidecarOracle.index(spark, md.indexPath(base, l.col), l))
      withClue(s"$l: ") { want.isFailure shouldBe true }
      val got = Try(Sidecars.Index.probe(spark, base, md, l))
      got.failed.map(_.getClass) shouldBe want.failed.map(_.getClass)
    }
  }
}

/** The literal matrix: table rows and, per column, the literals every
  * parity spec over it checks.
  */
object SidecarProbeParitySpec {
  final case class T(p: Int, l: java.lang.Long, i: java.lang.Integer, s: String,
      d: java.sql.Date, t: java.sql.Timestamp, m: java.math.BigDecimal, x: java.lang.Double)

  val strings = Seq("a", "b", "m", "z", "\uD83D\uDE00", "\uD83D\uDE01", "\uFFFD", "\uFFFF",
    "\u00E9t\u00E9", "Z")

  /** 240 rows over six partitions; every column has nulls and its edge values. */
  val rows: Seq[T] = (0 until 240).map { n =>
    def orNull[A](a: A): A = if (n % 11 == 5) null.asInstanceOf[A] else a
    T(n % 6,
      orNull(java.lang.Long.valueOf(n * 7L % 50)),
      orNull(Integer.valueOf(if (n % 37 == 0) Int.MaxValue else if (n % 41 == 0) Int.MinValue else n % 30)),
      orNull(strings(n % strings.size)),
      orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(n % 90L))),
      orNull(java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2021, 3, 1, 0, 0).plusHours(n * 5L))),
      orNull(new java.math.BigDecimal(n % 13).divide(new java.math.BigDecimal(4))),
      orNull(java.lang.Double.valueOf(n % 9 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => Double.PositiveInfinity
        case k => k * 1.25 - 4
      })))
  }

  val ops = Seq("==", "!=", "<", "<=", ">", ">=")

  /** (column, literal values): every value under every op, plus `in` over
    * all of them, the empty `in` and a 100-value `in`.
    */
  val cases: Seq[(String, Seq[Any], Seq[Any])] = Seq(
    // an Int literal, "7", a non-numeric string (ANSI cast error) on a Long column
    ("l", Seq(7L, 7, "7", "abc", 3.5, new java.math.BigDecimal("14.0"), 49L),
      (0 until 100).map(_.toLong * 3)),
    // a Long beyond the Int range on an Int column
    ("i", Seq(5, 5L, 3000000000L, -3000000000L, "5", Int.MaxValue),
      (0 until 100).map(k => if (k % 2 == 0) k.toLong else 3000000000L + k)),
    // UTF-16 (surrogate pairs below U+FFFD) and UTF-8 order differ; an Int
    // literal on a String column casts every stored value (ANSI error)
    ("s", strings ++ Seq("", "\uD800\uDC00", 5),
      (0 until 100).map(k => if (k < strings.size) strings(k) else s"w$k")),
    ("d", Seq(java.sql.Date.valueOf("2021-02-01"), "2021-02-01", "not-a-date",
      java.sql.Timestamp.valueOf("2021-02-01 12:00:00")),
      (0 until 100).map(k => java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(k * 2L)))),
    ("t", Seq(java.sql.Timestamp.valueOf("2021-03-05 10:00:00"), "2021-03-05 10:00:00",
      java.sql.Date.valueOf("2021-03-20")),
      (0 until 100).map(k => java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2021, 3, 1, 0, 0).plusHours(k * 7L)))),
    ("m", Seq(new java.math.BigDecimal("1.50"), 1.5, 2, "1.25", 2L),
      (0 until 100).map(k => new java.math.BigDecimal(k).divide(new java.math.BigDecimal(8)))),
    ("x", Seq(Double.NaN, 0.0, -0.0, 1.0, Double.PositiveInfinity, "NaN", 4),
      (0 until 100).map(k => if (k == 0) Double.NaN else k * 0.25 - 4)))
}

