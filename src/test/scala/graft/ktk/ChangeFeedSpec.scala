package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.spark.sql.functions._

/** Batch CDC reader (`Ktk.readChangeFeed`): row-level inserts AND deletes
  * over a commit range, deletion vectors giving the delete side row
  * precision, the seq watermark keeping rewrites silent.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def kv = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0)
  ).toDF("k", "p", "v")

  private def changes(base: String, from: Long, to: Long = -1L) =
    Ktk.readChangeFeed(spark, base, "ds", from, to)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().sorted.toSeq

  test("the change feed replays a churned log from version 0") {
    // churned fixture touching every feed shape: partitioned store (with a
    // multibyte label), appends, a DV delete, a MERGE (delete+insert), a
    // silent maintenance rewrite, and a delete_scope — the whole range
    // replayed from 0 in one walk
    val base = tmpDir("cdfdist")
    Ktk.store(spark, base, "ds",
      Seq((1L, "café", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "p", "v"),
      partitionOn = Seq("p")) // v1
    Ktk.update(spark, base, "ds", Some(Seq((4L, "café", 40.0)).toDF("k", "p", "v"))) // v2
    Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", 2)))) // v3
    Ktk.merge(spark, base, "ds",
      Seq((3L, "b", 333.0), (9L, "c", 90.0)).toDF("k", "p", "v"), keys = Seq("k")) // v4
    Ktk.materializeDeletes(spark, base, "ds") // silent rewrite
    Ktk.update(spark, base, "ds", None,
      deleteScope = Predicates.of(Seq(("p", "==", "a")))) // delete_scope
    val to = DatasetMetadata.load(spark, base, "ds").version
    Ktk.readChangeFeed(spark, base, "ds", 0, to)
      .select("k", "p", "v", "_change_type", "_commit_version")
      .as[(Long, String, Double, String, Long)].collect().sorted.toSeq shouldBe Seq(
        (1L, "café", 10.0, "insert", 1L), (2L, "a", 20.0, "delete", 3L),
        (2L, "a", 20.0, "insert", 1L), (3L, "b", 30.0, "delete", 4L),
        (3L, "b", 30.0, "insert", 1L), (3L, "b", 333.0, "insert", 4L),
        (4L, "café", 40.0, "insert", 2L), (9L, "c", 90.0, "insert", 4L))
  }

  test("append commits emit inserts with version attribution") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.update(spark, base, "ds", Some(Seq((5L, "a", 50.0)).toDF("k", "p", "v"))) // v2
    changes(base, 1) shouldBe Seq((5L, "insert", 2L))
    // full range from zero includes the initial content at v1
    changes(base, 0).filter(_._3 == 1L).map(_._1).sorted shouldBe Seq(1L, 2L, 3L, 4L)
  }

  test("deleteRows emits exactly the tombstoned rows as deletes") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("v", ">", 25.0)))) // v2
    changes(base, 1) shouldBe Seq((3L, "delete", 2L), (4L, "delete", 2L))
    // deleted row VALUES are recoverable from the feed
    val row = Ktk.readChangeFeed(spark, base, "ds", 1)
      .filter(col("k") === 3L).select("v").as[Double].head()
    row shouldBe 30.0
  }

  test("merge emits deletes for matched keys and inserts for the batch") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    val src = Seq((2L, "a", 999.0), (9L, "c", 90.0)).toDF("k", "p", "v")
    Ktk.merge(spark, base, "ds", src, keys = Seq("k")) // v2
    changes(base, 1) shouldBe Seq(
      (2L, "delete", 2L), (2L, "insert", 2L), (9L, "insert", 2L))
  }

  test("compaction and materialization stay silent; delete_scope emits") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv.repartition(2), partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 1)))) // v2: delete k=1
    Ktk.materializeDeletes(spark, base, "ds") // rewrite, SILENT
    Ktk.compact(spark, base, "ds", smallFileBytes = Long.MaxValue) // SILENT (may no-op)
    val vMaint = DatasetMetadata.load(spark, base, "ds").version
    changes(base, 2, vMaint) shouldBe empty
    // delete_scope drops partition p=b -> its live rows emit as deletes
    Ktk.update(spark, base, "ds", None,
      deleteScope = Predicates.of(Seq(("p", "==", "b"))))
    val vDel = DatasetMetadata.load(spark, base, "ds").version
    changes(base, vMaint) shouldBe Seq((3L, "delete", vDel), (4L, "delete", vDel))
  }

  test("consumeChanges: checkpointed at-least-once polling drains the log") {
    val base = tmpDir("cdf")
    val ckpt = s"${tmpDir("cdf-ckpt")}/consumer.v"
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 1)))) // v2
    Ktk.update(spark, base, "ds", Some(Seq((9L, "c", 90.0)).toDF("k", "p", "v"))) // v3
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // bounded polls: one version per batch, loop to drain
    var polled = 0
    while (Ktk.consumeChanges(spark, base, "ds", ckpt, maxVersionsPerPoll = 1) {
        (df, _, _) => seen ++= df.select("k", "_change_type", "_commit_version")
          .as[(Long, String, Long)].collect()
      } > 0) polled += 1
    polled shouldBe 3
    seen.sorted.toSeq shouldBe Seq(
      (1L, "delete", 2L), (1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 1L), (4L, "insert", 1L), (9L, "insert", 3L))
    // nothing new -> no-op; a failing consumer does NOT advance
    Ktk.consumeChanges(spark, base, "ds", ckpt)((_, _, _) => fail("no data expected")) shouldBe 0
    Ktk.update(spark, base, "ds", Some(Seq((10L, "c", 100.0)).toDF("k", "p", "v"))) // v4
    intercept[RuntimeException] {
      Ktk.consumeChanges(spark, base, "ds", ckpt)((_, _, _) => throw new RuntimeException("boom"))
    }
    // redelivered on the next poll (checkpoint unadvanced)
    var redelivered = Seq.empty[Long]
    Ktk.consumeChanges(spark, base, "ds", ckpt) { (df, from, to) =>
      redelivered = df.select("k").as[Long].collect().toSeq
      from shouldBe 3L; to shouldBe 4L
    } shouldBe 1
    redelivered shouldBe Seq(10L)
  }

  test("delete_scope does not resurrect already-tombstoned rows") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 3)))) // v2: k=3 dead
    Ktk.update(spark, base, "ds", None,
      deleteScope = Predicates.of(Seq(("p", "==", "b")))) // v3: drops p=b
    // k=3 died at v2; only k=4 dies at v3
    changes(base, 1) shouldBe Seq((3L, "delete", 2L), (4L, "delete", 3L))
  }

  test("feed range spanning an evolveSchema commit reads pre-evolution versions") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1: (k,p,v)
    // v2 evolves the schema with an extra column AND touches a row
    Ktk.merge(spark, base, "ds",
      Seq((2L, "a", 222.0, "tag2")).toDF("k", "p", "v", "extra"),
      keys = Seq("k"), evolveSchema = true)
    Ktk.update(spark, base, "ds",
      Some(Seq((9L, "c", 90.0, "tag9")).toDF("k", "p", "v", "extra"))) // v3
    // the WHOLE range — v1's files predate `extra`, v2/v3's carry it
    val feed = Ktk.readChangeFeed(spark, base, "ds", 0)
    feed.columns should contain("extra")
    val rows = feed.select("k", "extra", "_change_type", "_commit_version")
      .as[(Long, Option[String], String, Long)].collect().sorted.toSeq
    rows shouldBe Seq(
      (1L, None, "insert", 1L), (2L, None, "delete", 2L), (2L, None, "insert", 1L),
      (2L, Some("tag2"), "insert", 2L), (3L, None, "insert", 1L),
      (4L, None, "insert", 1L), (9L, Some("tag9"), "insert", 3L))
    // a checkpointed consumer crosses the evolution boundary too
    val ckpt = s"${tmpDir("cdf-ckpt")}/consumer.v"
    var total = 0L
    while (Ktk.consumeChanges(spark, base, "ds", ckpt, maxVersionsPerPoll = 1) {
        (df, _, _) => total += df.count()
      } > 0) ()
    total shouldBe 7L
  }

  test("mergeCdc routes NULL-op rows to the upsert side (never drops them)") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    val batch = Seq(
      (1L, "a", 11.0, "U"),           // update k=1
      (3L, "b", 0.0, "D"),            // delete k=3
      (7L, "c", 70.0, null: String)   // malformed NULL op -> upsert, NOT dropped
    ).toDF("k", "p", "v", "op")
    Ktk.mergeCdc(spark, base, "ds", batch, keys = Seq("k"), opCol = "op")
    val got = Ktk.readTable(spark, base, "ds").select("k", "v")
      .as[(Long, Double)].collect().sorted.toSeq
    got shouldBe Seq((1L, 11.0), (2L, 20.0), (4L, 40.0), (7L, 70.0))
  }

  test("an INSERT OVERWRITE (replaceAll) commit reports the full swap") {
    val base = tmpDir("cdf")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    // tombstone k=2 first: the swap must report only LIVE rows as deletes
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 2)))) // v2
    Ktk.update(spark, base, "ds",
      Some(Seq((9L, "z", 90.0)).toDF("k", "p", "v")), replaceAll = true) // v3
    changes(base, 2) shouldBe Seq(
      (1L, "delete", 3L), (3L, "delete", 3L), (4L, "delete", 3L),
      (9L, "insert", 3L))
    // downstream: a CDC mirror applying the feed converges on the swap
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().toSeq shouldBe Seq(9L)
  }

  test("corrupt checkpoint fails with a descriptive, recoverable error") {
    val base = tmpDir("cdf")
    val ckpt = s"${tmpDir("cdf-ckpt")}/consumer.v"
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt), "not-a-version".getBytes)
    val e = intercept[IllegalStateException] {
      Ktk.consumeChanges(spark, base, "ds", ckpt)((_, _, _) => ())
    }
    e.getMessage should include("corrupt change checkpoint")
    e.getMessage should include("not-a-version")
  }
}
