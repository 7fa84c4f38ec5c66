package graft.ktk

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{PredLiteral, PredOp, Predicates}

/** A partition scope (`update`'s delete scope, `compact`'s scope, and the
  * appends a REPLACE WHERE overwrite admits) takes exactly the partitions
  * whose rows `filter(scope.toColumn)` keeps: over int partitions, `p < "3"`
  * compares as `p < 3`, not as strings.
  */
class PartitionScopeSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq(0, 3, 25, 100)

  /** Two files per partition, written by one commit. */
  private lazy val base = {
    val b = tmpDir("scope")
    Ktk.store(spark, b, "ds",
      parts.flatMap(p => (0 until 4).map(k => (p * 10L + k, p))).toDF("k", "p").repartition(2),
      partitionOn = Seq("p"))
    b
  }

  private val scopes: Seq[Predicates] =
    (for (op <- Seq("==", "!=", "<", "<=", ">", ">="); v <- Seq(3, "3", "25", 100L, 2.5))
      yield Predicates.of(Seq(("p", op, v)))) ++
      Seq(Predicates(Seq(Seq(PredLiteral("p", PredOp.In, Seq(3, null))))),
        Predicates(Seq(Seq(PredLiteral("p", PredOp.In, Seq("25", null, 100L))))),
        Predicates.of(Seq(("p", ">", "0"), ("p", "<", "100"))))

  private def partsOf(md: DatasetMetadata): Map[Int, Set[String]] =
    md.partitions.keySet.groupBy(l => md.partitionValues(l)("p").toInt)

  /** The partitions `op` rewrote or dropped under `scope`; the dataset is
    * rolled back afterwards.
    */
  private def touched(scope: Predicates, op: Predicates => DatasetMetadata): Set[Int] = {
    val before = DatasetMetadata.load(spark, base, "ds")
    val after = op(scope)
    if (after.version != before.version) Ktk.rollback(spark, base, "ds", before.version)
    val (was, now) = (partsOf(before), partsOf(after))
    parts.filter(p => was.get(p) != now.get(p)).toSet
  }

  /** The partitions Spark's filter keeps, or its error. */
  private def oracle(scope: Predicates): Try[Set[Int]] =
    Try(Ktk.readTable(spark, base, "ds").filter(scope.toColumn)
      .select("p").distinct().collect().map(_.getAs[Number](0).intValue).toSet)

  private def same(tag: String, want: Try[Set[Int]], got: => Set[Int]): Unit =
    (want, Try(got)) match {
      case (Success(w), Success(g)) => withClue(tag) { g shouldBe w }
      case (Failure(w), Failure(g)) => withClue(s"$tag: $w vs $g") { g.getClass shouldBe w.getClass }
      case (w, g) => fail(s"$tag: filter $w, scope $g")
    }

  test("update's delete scope drops exactly the partitions Spark's filter keeps") {
    scopes.foreach { s =>
      same(s"delete scope $s", oracle(s),
        touched(s, sc => Ktk.update(spark, base, "ds", None, deleteScope = sc)))
    }
  }

  test("compact's scope rewrites exactly the partitions Spark's filter keeps") {
    scopes.foreach { s =>
      same(s"compact scope $s", oracle(s),
        touched(s, sc => Ktk.compact(spark, base, "ds", scope = sc)))
    }
  }

  test("a scoped overwrite admits appends into partitions Spark's filter keeps") {
    val scope = Predicates.of(Seq(("p", ">=", "25")))
    val md = Ktk.update(spark, base, "ds", Some(Seq((7L, 100)).toDF("k", "p")),
      deleteScope = scope, requireAppendsInScope = true)
    Ktk.readTable(spark, base, "ds").filter(col("k") === 7L).count() shouldBe 1
    Ktk.rollback(spark, base, "ds", md.version - 1)
    the[IllegalArgumentException] thrownBy Ktk.update(spark, base, "ds",
      Some(Seq((8L, 3)).toDF("k", "p")), deleteScope = scope,
      requireAppendsInScope = true) should have message
      "overwrite scope violation: 1 appended file(s) land outside the replaced partitions " +
        "(e.g. Map(p -> 3)); the source rows must all match the REPLACE WHERE / PARTITION clause"
  }
}
