package graft.ktk

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec
import graft.core.{PredLiteral, PredOp, Predicates}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The driver-side probes answer from a per-JVM cache of decoded sidecar
  * part files. A cached part must never stand in for content that changed:
  * appended part files, in-place legacy rewrites, deleted dirs and
  * invalidated datasets all show on the very next probe.
  */
class SidecarCacheSpec extends SparkSpec {
  import spark.implicits._

  private def frame(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i % 4, (i % 40).toLong, i % 7, s"v$i"))
      .toDF("p", "key", "z", "payload").repartition(2)

  private def store(base: String): DatasetMetadata =
    Ktk.store(spark, base, "ds", frame(0, 200), partitionOn = Seq("p"),
      secondaryIndices = Seq("key", "z"), zoneMapFor = Seq("z"))

  private def eq(c: String, v: Any) = PredLiteral(c, PredOp.Eq, v)

  /** The index's labels for `l`, computed by a Spark job over the sidecar. */
  private def truth(base: String, md: DatasetMetadata, l: PredLiteral): Set[String] =
    SidecarOracle.index(spark, md.indexPath(base, l.col), l)

  test("a pure-append update is visible to the very next probe") {
    val base = tmpDir("sidecache")
    val md0 = store(base)
    val before = Sidecars.Index.probe(spark, base, md0, eq("key", 7L)).get
    before shouldBe truth(base, md0, eq("key", 7L))
    val md1 = Ktk.update(spark, base, "ds", Some(frame(200, 280)))
    md1.indices shouldBe md0.indices // same sidecar names: the append added part files
    val after = Sidecars.Index.probe(spark, base, md1, eq("key", 7L)).get
    after shouldBe truth(base, md1, eq("key", 7L))
    after should not be before
    (after -- before).foreach(l => md0.partitions.keySet should not contain l)
    Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("key", "==", 7L))))
      .count() shouldBe (0 until 280).count(_ % 40 == 7)
  }

  test("a legacy fixed-name sidecar rewritten in place is never served stale") {
    val base = tmpDir("sidecache")
    val md = store(base)
    val legacy = md.copy(indices = md.indices + ("key" -> "key.parquet"))
    val path = legacy.indexPath(base, "key")
    def rewrite(rows: DataFrame): Unit = rows.write.mode("overwrite").parquet(path)
    val all = md.partitions.keys.toSeq.sorted
    rewrite(Seq((7L, all.take(1))).toDF("value", "partitions"))
    Sidecars.Index.probe(spark, base, legacy, eq("key", 7L)) shouldBe Some(all.take(1).toSet)
    rewrite(Seq((7L, all.takeRight(2)), (8L, all.take(1))).toDF("value", "partitions"))
    Sidecars.Index.probe(spark, base, legacy, eq("key", 7L)) shouldBe Some(all.takeRight(2).toSet)
    rewrite(Seq((8L, all)).toDF("value", "partitions"))
    Sidecars.Index.probe(spark, base, legacy, eq("key", 7L)) shouldBe Some(Set.empty)
  }

  test("a deleted index dir fails the read loudly, warm cache or not") {
    val base = tmpDir("sidecache")
    val md = store(base)
    val preds = Predicates.of(Seq(("key", "==", 7L)))
    Ktk.readTable(spark, base, "ds", predicates = preds).count() should be > 0L
    DatasetMetadata.fs(spark, base).delete(new Path(md.indexPath(base, "key")), true) shouldBe true
    an[java.io.FileNotFoundException] should be thrownBy
      Ktk.readTable(spark, base, "ds", predicates = preds).count()
  }

  test("invalidateCache drops the dataset's cached sidecar rows") {
    val base = tmpDir("sidecache")
    val other = tmpDir("sidecache")
    val md = store(base)
    val mdOther = store(other)
    Sidecars.Index.probe(spark, base, md, eq("key", 7L))
    Sidecars.Zone.probe(spark, base, md, PredLiteral("z", PredOp.Lt, 3))
    Sidecars.Index.probe(spark, other, mdOther, eq("key", 7L))
    SidecarRows.cachedParts(base, "ds") should be > 0
    DatasetMetadata.invalidateCache(base, "ds")
    SidecarRows.cachedParts(base, "ds") shouldBe 0
    SidecarRows.cachedParts(other, "ds") should be > 0
    // and the cold probe still answers exactly
    Sidecars.Index.probe(spark, base, md, eq("key", 7L)) shouldBe
      Some(truth(base, md, eq("key", 7L)))
  }

  test("concurrent probes of the same and different indices get exact sets") {
    val base = tmpDir("sidecache")
    val md = store(base)
    val lits = (0 until 40).map(v => eq("key", v.toLong)) ++ (0 until 7).map(eq("z", _)) ++
      Seq(PredLiteral("key", PredOp.In, (0 until 40 by 3).map(_.toLong)))
    val want = lits.groupBy(_.col).flatMap { case (c, ls) =>
      ls.zip(SidecarOracle.index(spark, md.indexPath(base, c), ls).map(_.get))
    }
    for (_ <- 0 until 3) {
      DatasetMetadata.invalidateCache(base, "ds")
      val runs = Seq(lits, lits.reverse, lits.filter(_.col == "key"), lits.filter(_.col == "z"))
        .map(ls => Future(ls.map(l => l -> Sidecars.Index.probe(spark, base, md, l).get)))
      Await.result(Future.sequence(runs), 2.minutes).flatten.foreach { case (l, got) =>
        withClue(l.toString) { got shouldBe want(l) }
      }
    }
  }
}
