package graft.sources

import graft.SparkSpec
import graft.core.Predicates
import graft.ktk.Ktk
import org.apache.spark.sql.functions._

/** Randomized equivalence: after EVERY commit of a random
  * store/append/delete/merge history, the connector read (which plans the
  * GraftDvSplitRule union while tombstones pend) and `Ktk.readTable` must
  * both return exactly the rows of a plain-Scala model of the history —
  * same rows, any DV state, with and without filters/projections. Both
  * paths apply tombstones through the same fragment reader, so the model
  * is the independent check. Seeded RNG keeps failures reproducible.
  */
class DvSplitEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  test("connector union split ≡ readTable across random DV histories") {
    val rnd = new scala.util.Random(20260815L)
    val base = tmpDir("dveq")
    val uuid = "eq"

    def rows(n: Int, tag: Int): Seq[(Long, Long, Double)] =
      (0 until n).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(4).toLong, tag * 1.0))

    // the model: the live rows as a multiset (a sorted Seq)
    var model: Seq[(Long, Long, Double)] = rows(200, 0)
    Ktk.store(spark, base, uuid, model.toDF("k", "p", "v"), partitionOn = Seq("p"))

    def connector = spark.read.format("graft").option("uuid", uuid).load(base)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.select("k", "p", "v").as[(Long, Long, Double)].collect().sorted.toSeq

    def check(step: String): Unit = withClue(s"[$step] ") {
      val expected = model.sorted
      canon(Ktk.readTable(spark, base, uuid)) shouldBe expected
      canon(connector) shouldBe expected
      // filter + projection push through both union branches
      val f = col("p") === 1L && col("v") >= 0.0
      val expectedF = expected.filter(_._2 == 1L)
      canon(connector.filter(f)) shouldBe expectedF
      canon(Ktk.readTable(spark, base, uuid).filter(f)) shouldBe expectedF
      connector.filter(col("k") < 50).agg(count(lit(1))).head.getLong(0) shouldBe
        expected.count(_._1 < 50)
    }

    (1 to 12).foreach { i =>
      rnd.nextInt(3) match {
        case 0 => // append
          val batch = rows(40, i)
          Ktk.update(spark, base, uuid, Some(batch.toDF("k", "p", "v")))
          model ++= batch
        case 1 => // row-level delete (may be a no-op predicate — fine)
          val cut = rnd.nextInt(400).toLong
          Ktk.deleteRows(spark, base, uuid,
            predicates = Predicates.of(Seq(("k", "==", cut))))
          model = model.filterNot(_._1 == cut)
        case 2 => // keyed merge (tombstone + append in one commit)
          val src = rows(30, 100 + i).distinctBy(_._1)
          Ktk.merge(spark, base, uuid, src.toDF("k", "p", "v"), keys = Seq("k"))
          val keys = src.map(_._1).toSet
          model = model.filterNot(r => keys(r._1)) ++ src
      }
      check(s"step $i")
    }
    // maintenance drains the vectors; equivalence must survive that too
    Ktk.materializeDeletes(spark, base, uuid)
    check("post-materialize")
  }
}
