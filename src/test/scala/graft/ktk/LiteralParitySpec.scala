package graft.ktk

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.{PlanWalk, SparkSpec}
import graft.core.{PredLiteral, PredOp, Predicates}

/** A predicate read binds its literals by reference
  * ([[graft.core.ParamLiteral]]) and must still be a plain-literal filter in
  * every observable way: `readTable(predicates)` returns the rows Spark's
  * `filter` with `lit` returns, or throws the same exception class (ANSI
  * cast errors), and the scan pushes the same Parquet filters and splits
  * off the same partition filters.
  */
class LiteralParitySpec extends SparkSpec {
  import SidecarProbeParitySpec._
  import spark.implicits._

  /** [[SidecarProbeParitySpec]]'s table plus byte, short, float and boolean
    * columns derived from it (nulls where it has them).
    */
  private lazy val base = {
    val b = tmpDir("litparity")
    Ktk.store(spark, b, "lp", rows.toDF()
      .withColumn("b", (col("i") % 100).cast("byte"))
      .withColumn("h", (col("i") % 1000 * 3).cast("short"))
      .withColumn("f", col("x").cast("float"))
      .withColumn("z", col("i") % 2 === 0)
      .repartition(4), partitionOn = Seq("p"))
    b
  }

  private lazy val all = Ktk.readTable(spark, base, "lp")

  private val more: Seq[(String, Seq[Any], Seq[Any])] = Seq(
    // "300" and "70000" overflow the column's type under ANSI
    ("b", Seq(5.toByte, 5, 5L, 300, "5", "300", -1.toByte), (0 until 100).map(_.toByte)),
    ("h", Seq(21.toShort, 21, 70000, "21", "70000", 2.5), (0 until 100).map(k => (k * 3).toShort)),
    ("f", Seq(Float.NaN, 0.0f, -0.0f, 1.0f, 1.25, Float.PositiveInfinity, "NaN"),
      (0 until 100).map(k => if (k == 0) Float.NaN else k * 0.25f - 4)),
    ("z", Seq(true, false, "true", 1), (0 until 100).map(_ % 2 == 0)),
    // the partition column
    ("p", Seq(2, 2L, "2", 2.5, "x"), 0 until 100))

  /** The filter with Spark's own `lit`, the form before literals bound by
    * reference.
    */
  private def plain(l: PredLiteral): Column = {
    val c = col(s"`${l.col}`")
    l.op match {
      case PredOp.Eq => if (l.value == null) c.isNull else c === lit(l.value)
      case PredOp.Ne => if (l.value == null) c.isNotNull else c =!= lit(l.value)
      case PredOp.Lt => c < lit(l.value)
      case PredOp.Le => c <= lit(l.value)
      case PredOp.Gt => c > lit(l.value)
      case PredOp.Ge => c >= lit(l.value)
      case PredOp.In =>
        val (nulls, vs) = l.value.asInstanceOf[Seq[Any]].partition(_ == null)
        val base = if (vs.isEmpty) lit(false) else c.isin(vs: _*)
        if (nulls.nonEmpty) base || c.isNull else base
    }
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The scan's pushed Parquet filters and partition filters, ids erased. */
  private def scanFilters(df: DataFrame): Seq[(String, String)] =
    PlanWalk.fileScans(df.queryExecution.executedPlan).map { s =>
      def f(k: String) = s.metadata.getOrElse(k, "").replaceAll("#\\d+", "")
      (f("PushedFilters"), f("PartitionFilters"))
    }

  for ((c, vals, big) <- cases ++ more) {
    test(s"literals on column '$c' read as plain-literal filters do") {
      val lits = vals.flatMap(v => ops.map(o => PredLiteral(c, PredOp.fromString(o), v))) ++
        Seq(vals, vals :+ null, Seq.empty, big).map(vs => PredLiteral(c, PredOp.In, vs))
      lits.foreach { l =>
        val want = Try(sorted(all.filter(plain(l))))
        (want, Try(sorted(Ktk.readTable(spark, base, "lp", predicates = Predicates(Seq(Seq(l))))))) match {
          case (Success(w), Success(g)) =>
            withClue(s"$l rows") { g shouldBe w }
            withClue(s"$l scan filters") {
              scanFilters(all.filter(Predicates(Seq(Seq(l))).toColumn)) shouldBe
                scanFilters(all.filter(plain(l)))
            }
          case (Failure(w), Failure(g)) =>
            withClue(s"$l: $w vs $g") { g.getClass shouldBe w.getClass }
          case (w, g) => fail(s"$l: plain filter $w, read $g")
        }
      }
    }
  }
}
