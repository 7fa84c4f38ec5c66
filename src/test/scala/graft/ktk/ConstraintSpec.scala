package graft.ktk

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CHECK constraints (Delta ADD CONSTRAINT analog): rules ride in the
  * commit metadata, existing data is validated at ADD time, and every
  * mutation batch is gated before any file lands.
  */
class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def kv = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v")

  test("add validates existing data; batches are gated; drop lifts the rule") {
    val base = tmpDir("chk")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    // a constraint current rows violate is rejected outright
    intercept[IllegalArgumentException] {
      Ktk.addCheckConstraint(spark, base, "ds", "v_small", "v < 15.0")
    }
    Ktk.addCheckConstraint(spark, base, "ds", "v_pos", "v > 0.0")
    Ktk.constraints(DatasetMetadata.load(spark, base, "ds")) shouldBe
      Map("v_pos" -> "v > 0.0")
    // violating update fails whole-batch, leaves nothing
    val before = DatasetMetadata.load(spark, base, "ds")
    intercept[IllegalArgumentException] {
      Ktk.update(spark, base, "ds",
        Some(Seq((3L, "a", -1.0), (4L, "a", 5.0)).toDF("k", "p", "v")))
    }
    DatasetMetadata.load(spark, base, "ds").version shouldBe before.version
    Ktk.readTable(spark, base, "ds").count() shouldBe 2
    // valid batch passes; NULL evaluates as not-violating (SQL CHECK)
    Ktk.update(spark, base, "ds",
      Some(Seq((3L, "a", 5.0)).toDF("k", "p", "v")))
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
    // merge is gated too — even the tombstone side effect is withheld
    val frags0 = DatasetMetadata.load(spark, base, "ds").deleteFragments.size
    intercept[IllegalArgumentException] {
      Ktk.merge(spark, base, "ds",
        Seq((1L, "a", -9.0)).toDF("k", "p", "v"), keys = Seq("k"))
    }
    DatasetMetadata.load(spark, base, "ds").deleteFragments.size shouldBe frags0
    Ktk.readTable(spark, base, "ds").filter($"k" === 1L)
      .select("v").as[Double].head() shouldBe 10.0
    // drop → the same batch commits
    Ktk.dropConstraint(spark, base, "ds", "v_pos")
    Ktk.merge(spark, base, "ds",
      Seq((1L, "a", -9.0)).toDF("k", "p", "v"), keys = Seq("k"))
    Ktk.readTable(spark, base, "ds").filter($"k" === 1L)
      .select("v").as[Double].head() shouldBe -9.0
  }

  test("the two-phase write is gated: a violating writePartition leaves no file") {
    val base = tmpDir("chk")
    Ktk.createEmpty(spark, base, "tp", kv.schema, partitionOn = Seq("p"))
    Ktk.addCheckConstraint(spark, base, "tp", "v_pos", "v > 0.0")
    val tableDir = java.nio.file.Paths.get(DatasetMetadata.load(spark, base, "tp").tableDir(base))
    def files: Seq[String] =
      if (!java.nio.file.Files.exists(tableDir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(tableDir)
        try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).toList.sorted
        finally walk.close()
      }
    val before = files
    intercept[IllegalArgumentException] {
      Ktk.writePartition(spark, base, "tp", Seq((3L, "a", -1.0), (4L, "a", 5.0)).toDF("k", "p", "v"))
    }
    files shouldBe before
    // a valid batch writes and commits
    Ktk.commit(spark, base, "tp", Ktk.writePartition(spark, base, "tp", kv))
    Ktk.readTable(spark, base, "tp").count() shouldBe 2
  }

  test("constraints travel with versions (time-travel metadata)") {
    val base = tmpDir("chk")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.addCheckConstraint(spark, base, "ds", "v_pos", "v > 0.0") // v2
    Ktk.dropConstraint(spark, base, "ds", "v_pos") // v3
    Ktk.constraints(DatasetMetadata.loadVersion(spark, base, "ds", 1L)) shouldBe empty
    Ktk.constraints(DatasetMetadata.loadVersion(spark, base, "ds", 2L)) shouldBe
      Map("v_pos" -> "v > 0.0")
    Ktk.constraints(DatasetMetadata.loadVersion(spark, base, "ds", 3L)) shouldBe empty
  }
}
