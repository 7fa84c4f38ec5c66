package graft.ktk

import graft.SparkSpec
import graft.core.{PredOp, Predicates}
import org.apache.spark.sql.functions._

/** Property net for zone-map pruning: for MANY random predicates over
  * mixed types (double, timestamp, string; with nulls), a zone-mapped
  * dataset read must return exactly the rows of the raw DataFrame filter —
  * pruning may only skip files, never rows. The strings include values
  * where other orders part from Spark's: a high-BMP and a supplementary
  * character (UTF-16 code units order them the other way round), and
  * date-like and numeric-like strings (no date or number parsing may
  * reorder a string column); the string partition column `q` draws from
  * the same alphabet, and the int partition column `p` holds values whose
  * string order differs from their numeric one (3 < 25 < 100).
  */
class ZoneMapPropertySpec extends SparkSpec {
  import spark.implicits._

  private val odd = Seq("\uFF61", new String(Character.toChars(0x10000)), "1999-12-31", "2000", "701")
  private val qs = odd ++ Seq("w001", "w017", "w033")
  private val ps = Seq(0, 3, 25, 100)

  private lazy val (base, raw) = {
    val b = tmpDir("zmprop")
    val rnd = new scala.util.Random(7)
    val rndOdd = new scala.util.Random(23)
    val rows = (0 until 300).map { i =>
      val x = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(200) - 100 + rnd.nextDouble())
      val t = if (rnd.nextInt(12) == 0) None
        else Some(java.sql.Timestamp.valueOf(
          f"2021-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00"))
      val s = if (rnd.nextInt(15) == 0) None else Some(f"w${rnd.nextInt(40)}%03d")
      val s1 = if (rndOdd.nextInt(4) == 0) s.map(_ => odd(rndOdd.nextInt(odd.size))) else s
      (i.toLong, ps(i % 4), x, t, s1, qs(rndOdd.nextInt(qs.size)))
    }.toDF("id", "p", "x", "t", "s", "q")
    Ktk.store(spark, b, "zp", rows, partitionOn = Seq("p", "q"),
      sortBy = Seq("x"), zoneMapFor = Seq("x", "t", "s"))
    (b, rows)
  }

  private def check(preds: Predicates, tag: String): Unit = {
    val got = Ktk.readTable(spark, base, "zp", predicates = preds)
      .select("id").as[Long].collect().sorted.toSeq
    val want = raw.filter(preds.toColumn).select("id").as[Long].collect().sorted.toSeq
    withClue(s"$tag / $preds: ") { got shouldBe want }
  }

  /** [[check]] where the raw filter may throw (an ANSI cast of the
    * literal): the read must then throw too.
    */
  private def checkOrBothThrow(preds: Predicates, tag: String): Unit = {
    def ids(df: => org.apache.spark.sql.DataFrame): Either[String, Seq[Long]] =
      try Right(df.select("id").as[Long].collect().sorted.toSeq)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val want = ids(raw.filter(preds.toColumn))
    val got = ids(Ktk.readTable(spark, base, "zp", predicates = preds))
    withClue(s"$tag / $preds: want $want, got $got: ") { got.isLeft shouldBe want.isLeft }
    if (want.isRight) withClue(s"$tag / $preds: ") { got shouldBe want }
  }

  test("random single literals over every op and type match the raw filter") {
    val rnd = new scala.util.Random(11)
    val ops = Seq("==", "!=", "<", "<=", ">", ">=")
    for (_ <- 0 until 40) {
      val (colName, value) = rnd.nextInt(3) match {
        case 0 => ("x", (rnd.nextInt(220) - 110).toDouble)
        case 1 => ("t", f"2021-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d")
        case _ => ("s", f"w${rnd.nextInt(45)}%03d")
      }
      val op = ops(rnd.nextInt(ops.length))
      check(Predicates.of(Seq((colName, op, value))), s"single-$colName")
    }
    // null literals and in-lists (with and without null)
    check(Predicates.of(Seq(("x", "==", null))), "x-null")
    check(Predicates.of(Seq(("t", "!=", null))), "t-nonnull")
    check(Predicates.of(Seq(("s", "in", Seq("w001", "w007", null)))), "s-in-null")
    check(Predicates.of(Seq(("x", "in", Seq(5.0, -3.0)))), "x-in")
    // large IN list exercises the sorted binary-search zone path
    val rnd2 = new scala.util.Random(17)
    val bigIn = Seq.fill(300)((rnd2.nextInt(260) - 130).toDouble).distinct
    check(Predicates.of(Seq(("x", "in", bigIn))), "x-in-large")
    check(Predicates.of(Seq(("s", "in", (0 until 200).map(i => f"w${i * 3}%03d")))), "s-in-large")
  }

  test("strings where UTF-16, date or number order would differ match the raw filter") {
    val ops = Seq("==", "!=", "<", "<=", ">", ">=")
    for (v <- odd; op <- ops) check(Predicates.of(Seq(("s", op, v))), "s-odd")
    for (v <- qs; op <- ops) check(Predicates.of(Seq(("q", op, v))), "q-range")
    check(Predicates.of(Seq(("s", "in", odd))), "s-in-odd")
    check(Predicates.of(Seq(("s", ">=", "2000"), ("s", "<=", odd.head))), "s-between")
    check(Predicates.of(Seq(("q", ">", "701"), ("q", "<", odd(1)))), "q-between")
  }

  test("string literals on an int partition column compare as the column's type") {
    raw.select("p").distinct().count() shouldBe ps.size
    for ((op, v) <- Seq((">", "3"), ("==", "25"), ("<", "25"), (">=", "100"),
        ("!=", "3"), ("in", Seq("3", "25")), ("in", Seq("100", null))))
      checkOrBothThrow(Predicates.of(Seq(("p", op, v))), "p-string")
    for (op <- Seq("==", "!=", ">", "in"))
      checkOrBothThrow(Predicates.of(Seq(("p", op, if (op == "in") Seq("abc") else "abc"))),
        "p-non-numeric")
  }

  test("random conjunctions and disjunctions match the raw filter") {
    val rnd = new scala.util.Random(13)
    for (_ <- 0 until 25) {
      val conj1 = Seq(
        ("x", ">", (rnd.nextInt(160) - 80).toDouble),
        ("x", "<", (rnd.nextInt(160)).toDouble))
      val conj2 = Seq(
        ("t", ">=", f"2021-${1 + rnd.nextInt(12)}%02d-01"),
        ("s", "<=", f"w${rnd.nextInt(45)}%03d"))
      check(Predicates.of(conj1), "range-x")
      check(Predicates.of(conj1, conj2), "disjunction")
    }
  }

  test("zone probe collects only matching labels, executor-filtered") {
    raw.count() // force dataset build
    val md = DatasetMetadata.load(spark, base, "zp")
    val lit = graft.core.PredLiteral("x", PredOp.Gt, 80.0)
    val survivors = Sidecars.Zone.probe(spark, base, md, lit).get
    survivors.subsetOf(md.partitions.keySet) shouldBe true
    // the driver receives exactly the files whose [min,max] admits x>80 —
    // recompute the expectation from the materialized zone map
    val zm = Ktk.zoneMapOf(spark, base, md, "x")
    val expected = zm.collect {
      case (l, s) if s.nonEmpty && s(1).toDouble > 80.0 => l
    }.toSet
    survivors shouldBe expected
    expected.size should be < md.partitions.size
  }
}
