package graft.ktk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Predicates
import graft.cube.{Cube, CubeDef}

/** Reads that differ only in their literal values share one compiled class:
  * after one warm read of a shape, point, range and in-list reads of values
  * never seen before compile no Java, through [[Ktk.readTable]] and through
  * [[Cube.query]].
  */
class LiteralCodegenSpec extends SparkSpec {
  import spark.implicits._

  /** 64 labels (`p1` × `p2`), an index on `key`. */
  private def rows = (0 until 4000).map { i =>
    (i.toLong, i % 8, (i / 8) % 8, i * 7919L % 10000, i * 31L % 1000)
  }.toDF("id", "p1", "p2", "key", "v")

  private lazy val table = {
    val b = tmpDir("litcodegen")
    Ktk.store(spark, b, "t", rows.repartition(col("p1"), col("p2")),
      partitionOn = Seq("p1", "p2"), sortBy = Seq("key"), secondaryIndices = Seq("key"))
    b
  }

  private val cube = CubeDef(uuidPrefix = "lc", dimensionColumns = Seq("key", "id"),
    partitionColumns = Seq("p1"))

  private lazy val cubeBase = {
    val b = tmpDir("litcodegencube")
    Cube.build(spark, b, cube, Map("seed" -> rows.drop("p2"),
      "enrich" -> rows.select(col("id"), col("p1"), (col("v") * 2).as("w"))))
    b
  }

  /** The rows' count and checksum: every column is read and filtered. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val h = crc32(concat_ws("|", df.columns.toSeq.map(c => col(c).cast("string")): _*))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Read shapes over step `i`; no two steps share a literal. */
  private val shapes: Seq[(String, Int => Predicates)] = Seq(
    "point" -> (i => Predicates.of(Seq(("key", "==", (17L * i + 3) * 7919 % 10000)))),
    "range" -> (i => Predicates.of(Seq(("p1", ">=", i % 5), ("p1", "<=", i % 5 + 2),
      ("v", "<", 400L + i)))),
    "100-key in-list" -> (i => Predicates.of(Seq(("key", "in", (0 until 100).map(j => 97L * j + i))))))

  for ((shape, preds) <- shapes) {
    test(s"$shape reads of unseen literals compile no class through readTable") {
      checksum(Ktk.readTable(spark, table, "t", predicates = preds(0)))
      val (_, n) = compiles {
        (1 to 10).foreach(i => checksum(Ktk.readTable(spark, table, "t", predicates = preds(i))))
      }
      n shouldBe 0
    }

    test(s"$shape cube queries of unseen literals compile no class") {
      checksum(Cube.query(spark, cubeBase, cube, conditions = preds(0)))
      val (_, n) = compiles {
        (1 to 10).foreach(i => checksum(Cube.query(spark, cubeBase, cube, conditions = preds(i))))
      }
      n shouldBe 0
    }
  }
}
