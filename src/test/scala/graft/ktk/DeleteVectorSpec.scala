package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join

/** Row-level deletes and MERGE via deletion vectors (Delta/Iceberg
  * merge-on-read): a delete commits one immutable (label, pos) fragment,
  * no data file is rewritten; reads anti-join the vectors on exactly the
  * touched files; compact / materializeDeletes drop the rows physically.
  */
class DeleteVectorSpec extends SparkSpec {
  import spark.implicits._

  private def kv = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
    (4L, "b", 40.0), (5L, "b", 50.0), (6L, "b", 60.0)
  ).toDF("k", "p", "v")

  test("deleteRows: predicate delete, no file rewrite, count returned") {
    val base = tmpDir("dv")
    val md0 = Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    val filesBefore = md0.partitions.keySet
    val (md1, n) = Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("v", ">", 35.0))))
    n shouldBe 3L
    md1.partitions.keySet shouldBe filesBefore // no data file touched
    md1.deleteFragments should have size 1
    val rows = Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted
    rows.toSeq shouldBe Seq(1L, 2L, 3L)
    // idempotent: same delete matches nothing, commits nothing
    val v1 = DatasetMetadata.load(spark, base, "ds").version
    val (md2, n2) = Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("v", ">", 35.0))))
    n2 shouldBe 0L
    md2.version shouldBe v1
  }

  test("deleteRows: filterQuery takes arbitrary SQL expressions") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    val (md1, n) = Ktk.deleteRows(spark, base, "ds",
      filterQuery = Some("k % 2 = 0 AND v < 55"))
    n shouldBe 2L // k=2 (v=20), k=4 (v=40)
    // a fragment without its `_labels.json` manifest (written before
    // manifests existed) finds its labels from its own rows
    DatasetMetadata.fs(spark, base).delete(
      new Path(md1.deletePath(base, md1.deleteFragments.head), "_labels.json"), false) shouldBe true
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted.toSeq shouldBe
      Seq(1L, 3L, 5L, 6L)
  }

  test("merge-on-read plan: only dirty files pay the anti-join") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    // delete only rows living in p=a files
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "a"), ("k", "==", 1))))
    val all = Ktk.readTable(spark, base, "ds")
    all.count() shouldBe 5
    // full read: exactly one LeftAnti (dirty side), clean files unioned in
    all.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti => j
    } should have size 1
    // read restricted to the CLEAN partition: no anti-join anywhere
    val clean = Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "b"))))
    clean.count() shouldBe 3
    clean.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti => j
    } shouldBe empty
  }

  test("merge: upsert replaces matched keys, inserts new ones, one commit") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    val batch = Seq(
      (2L, "a", 999.0), // update
      (5L, "b", 888.0), // update
      (7L, "c", 70.0)   // insert (new partition!)
    ).toDF("k", "p", "v")
    val v0 = DatasetMetadata.load(spark, base, "ds").version
    val (md1, matched) = Ktk.merge(spark, base, "ds", batch, keys = Seq("k"))
    matched shouldBe 2L
    md1.version shouldBe v0 + 1 // ONE commit
    val out = Ktk.readTable(spark, base, "ds")
      .select("k", "v").as[(Long, Double)].collect().toMap
    out shouldBe Map(1L -> 10.0, 2L -> 999.0, 3L -> 30.0,
      4L -> 40.0, 5L -> 888.0, 6L -> 60.0, 7L -> 70.0)
    // source multiplicity is preserved, matched target rows delete once
    val dup = Seq((3L, "a", 1.0), (3L, "a", 2.0)).toDF("k", "p", "v")
    val (_, m2) = Ktk.merge(spark, base, "ds", dup, keys = Seq("k"))
    m2 shouldBe 1L
    Ktk.readTable(spark, base, "ds").filter(col("k") === 3L).count() shouldBe 2
  }

  test("merge with additive schema evolution (upstream ALTER TABLE)") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    // strict mode rejects the new column loudly
    val evolved = Seq((2L, "a", 22.0, "note-2"), (8L, "c", 80.0, "note-8"))
      .toDF("k", "p", "v", "note")
    intercept[Exception] {
      Ktk.merge(spark, base, "ds", evolved, keys = Seq("k"))
    }
    val (_, matched) = Ktk.merge(spark, base, "ds", evolved, keys = Seq("k"),
      evolveSchema = true)
    matched shouldBe 1L
    val out = Ktk.readTable(spark, base, "ds")
      .select("k", "v", "note").as[(Long, Double, Option[String])]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    out(2L) shouldBe ((22.0, Some("note-2")))
    out(8L) shouldBe ((80.0, Some("note-8")))
    out(1L) shouldBe ((10.0, None)) // old file reads the new column as null
  }

  test("time travel sees pre-delete content; rollback restores it") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "in", Seq(1, 2))))) // v2
    Ktk.readTable(spark, base, "ds").count() shouldBe 4
    Ktk.readTableAsOf(spark, base, "ds", 1L).count() shouldBe 6
    Ktk.readTableAsOf(spark, base, "ds", 2L).count() shouldBe 4
    val md3 = Ktk.rollback(spark, base, "ds", 1L) // v3 = content of v1
    md3.deleteFragments shouldBe empty
    Ktk.readTable(spark, base, "ds").count() shouldBe 6
  }

  test("materializeDeletes rewrites ONLY dirty files and sheds fragments") {
    val base = tmpDir("dv")
    val md0 = Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "a"), ("v", "<", 25.0))))
    val md1 = DatasetMetadata.load(spark, base, "ds")
    md1.deleteFragments should have size 1
    val cleanLabels = md0.partitions.keySet.filter(_.startsWith("p=b"))
    val md2 = Ktk.materializeDeletes(spark, base, "ds")
    md2.deleteFragments shouldBe empty
    // clean files untouched (identical labels), dirty ones replaced
    md2.partitions.keySet.filter(_.startsWith("p=b")) shouldBe cleanLabels
    md2.partitions.keySet.filter(_.startsWith("p=a")) should not be
      md0.partitions.keySet.filter(_.startsWith("p=a"))
    val out = Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted
    out.toSeq shouldBe Seq(3L, 4L, 5L, 6L)
    // physically gone: a raw scan of the current files shows 4 rows
    val tableDir = md2.tableDir(base)
    spark.read.parquet(md2.partitions.keys.map(l => s"$tableDir/$l").toSeq: _*)
      .count() shouldBe 4
  }

  test("scoped materializeDeletes folds only in-scope vectors; others stay applied") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    // tombstones in BOTH partitions (neither fully deleted): one fragment
    // names both, a second names only p=a
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "in", Seq(1L, 4L)))))
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 2L))))
    val md0 = DatasetMetadata.load(spark, base, "ds")
    md0.deleteFragments should have size 2
    // a read of p=b plans exactly the part files of the fragments whose
    // manifest names p=b's label
    val fsys = DatasetMetadata.fs(spark, base)
    val labelB = md0.partitions.keys.filter(_.startsWith("p=b")).toSet
    def dvFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.filter(_.contains(s"/${DatasetMetadata.DeletesDirName}/"))
        .map(f => new Path(f).toUri.getPath).toSet
    val namingB = md0.deleteFragments.filter { f =>
      val in = fsys.open(new Path(md0.deletePath(base, f), "_labels.json"))
      val names = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      labelB.exists(l => names.contains("\"" + l + "\""))
    }
    namingB should have size 1
    val partsB = fsys.listStatus(new Path(md0.deletePath(base, namingB.head)))
      .map(_.getPath).filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(p => fsys.makeQualified(p).toUri.getPath).toSet
    partsB should not be empty
    dvFiles(Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "b"))))) shouldBe partsB
    val before = Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted
    before.toSeq shouldBe Seq(3L, 5L, 6L)
    val md1 = Ktk.materializeDeletes(spark, base, "ds",
      scope = Predicates.of(Seq(("p", "==", "a"))))
    // p=a's rows are physically gone; p=b's fragments survive and still apply
    md1.deleteFragments should not be empty
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted shouldBe before
    val tableDir = md1.tableDir(base)
    val rawA = spark.read.parquet(
      md1.partitions.keys.filter(_.startsWith("p=a")).map(l => s"$tableDir/$l").toSeq: _*)
    rawA.count() shouldBe Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "a")))).count()
    // an out-of-scope-only call is a no-op (vectors must not silently drop)
    val vBefore = DatasetMetadata.load(spark, base, "ds").version
    Ktk.materializeDeletes(spark, base, "ds",
      scope = Predicates.of(Seq(("p", "==", "a")))) // already clean
    DatasetMetadata.load(spark, base, "ds").version shouldBe vBefore
    // finishing the job sheds the rest
    Ktk.materializeDeletes(spark, base, "ds").deleteFragments shouldBe empty
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted shouldBe before
  }

  test("materializeDeletes sheds dead-label fragments in ONE pass") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    // one fragment referencing BOTH partitions...
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "in", Seq(1L, 4L)))))
    // ...then p=b's files leave the referenced set entirely (scoped swap):
    // the fragment now references one LIVE label (p=a) and one DEAD one
    Ktk.update(spark, base, "ds",
      Some(Seq((9L, "b", 90.0)).toDF("k", "p", "v")),
      deleteScope = Predicates.of(Seq(("p", "==", "b"))))
    // a single materialize must fold the live vectors AND drop the dead
    // ones — a lingering fragment would keep footer-agg pushdown and keyed
    // joins disabled for no reason
    val md1 = Ktk.materializeDeletes(spark, base, "ds")
    md1.deleteFragments shouldBe empty
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted.toSeq shouldBe
      Seq(2L, 3L, 9L)
  }

  test("compact folds pending deletes into its rewrite") {
    val base = tmpDir("dv")
    // 3 small files in one partition dir, same commit seq → compactable
    Ktk.store(spark, base, "ds", kv.repartition(3))
    val (_, n) = Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("v", ">=", 50.0))))
    n shouldBe 2L
    val md1 = Ktk.compact(spark, base, "ds", smallFileBytes = Long.MaxValue,
      targetFileBytes = Long.MaxValue)
    md1.deleteFragments shouldBe empty // all dirty files were victims
    val out = Ktk.readTable(spark, base, "ds")
    out.count() shouldBe 4
    // deleted rows did NOT resurrect into the compacted files
    val tableDir = md1.tableDir(base)
    spark.read.parquet(md1.partitions.keys.map(l => s"$tableDir/$l").toSeq: _*)
      .count() shouldBe 4
  }

  test("DSv2 batch read applies deletion vectors; still right after materialize") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", 1))))
    // live tombstones: the connector's clean/dirty split applies them
    val dsv2 = spark.read.format("graft").option("uuid", "ds").load(base)
    dsv2.count() shouldBe 5
    dsv2.select("k").as[Long].collect().sorted.toSeq shouldBe Seq(2L, 3L, 4L, 5L, 6L)
    // identical to the library read path
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted.toSeq shouldBe
      dsv2.select("k").as[Long].collect().sorted.toSeq
    Ktk.materializeDeletes(spark, base, "ds")
    spark.read.format("graft").option("uuid", "ds").load(base).count() shouldBe 5
  }

  test("gc dry-run reports exactly what a real gc then deletes") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", 1))))
    Ktk.materializeDeletes(spark, base, "ds") // orphans: old p=a file + fragment
    val plan = Ktk.garbageCollect(spark, base, "ds", dryRun = true, sidecarGraceMs = 0L)
    plan should not be empty
    // nothing was touched
    Ktk.readTable(spark, base, "ds").count() shouldBe 5
    Ktk.readTableAsOf(spark, base, "ds", 2L).count() shouldBe 5
    val real = Ktk.garbageCollect(spark, base, "ds", sidecarGraceMs = 0L)
    real.toSet shouldBe plan.toSet
    Ktk.readTable(spark, base, "ds").count() shouldBe 5
  }

  test("gc reaps unreferenced fragments; retained versions pin theirs") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 1)))) // v2, frag A
    val fragA = DatasetMetadata.load(spark, base, "ds").deleteFragments.head
    Ktk.materializeDeletes(spark, base, "ds") // v3, no frags
    val fs = DatasetMetadata.fs(spark, base)
    val fragPath = new Path(s"$base/ds/${DatasetMetadata.DeletesDirName}/$fragA")
    fs.exists(fragPath) shouldBe true
    // retention pins: v2 still references frag A
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 1, sidecarGraceMs = 0L)
    fs.exists(fragPath) shouldBe true
    Ktk.readTableAsOf(spark, base, "ds", 2L).count() shouldBe 5 // still correct
    // no retention: fragment unreferenced → reaped
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 0, sidecarGraceMs = 0L)
    fs.exists(fragPath) shouldBe false
    Ktk.readTable(spark, base, "ds").count() shouldBe 5
  }

  test("deleteRows racing a concurrent append: optimistic retry, nothing lost") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", kv, partitionOn = Seq("p"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fDel = Future {
      barrier.await()
      Ktk.withCommitRetries() {
        Ktk.deleteRows(spark, base, "ds",
          predicates = Predicates.of(Seq(("v", ">", 45.0))))
      }
    }
    val fAdd = Future {
      barrier.await()
      Ktk.withCommitRetries() {
        Ktk.update(spark, base, "ds",
          Some(Seq((7L, "c", 70.0)).toDF("k", "p", "v")))
      }
    }
    Await.result(fDel, 120.seconds)
    Await.result(fAdd, 120.seconds)
    // both effects landed: append present, deletes applied, chain unbroken.
    // (The appended k=7 row has v=70 > 45 — whether the racing delete saw
    // it depends on commit order, so assert on the pre-existing rows.)
    val out = Ktk.readTable(spark, base, "ds")
      .filter(col("k") =!= 7L).select("k").as[Long].collect().sorted.toSeq
    out shouldBe Seq(1L, 2L, 3L, 4L)
    Ktk.readTable(spark, base, "ds").filter(col("k") === 7L).count() should be <= 1L
    val md = DatasetMetadata.load(spark, base, "ds")
    Ktk.listVersions(spark, base, "ds").max shouldBe md.version
  }

  test("fragment count stays bounded under many small deletes") {
    val base = tmpDir("dv")
    val n = Sidecars.MaxFragments + 4L
    val rows = (1L to n + 10).map(k => (k, "a", k.toDouble)).toDF("k", "p", "v")
    Ktk.store(spark, base, "ds", rows, partitionOn = Seq("p"))
    // MaxFragments + 4 tiny delete commits: past the bound the list folds
    // instead of growing — reads never union an unbounded fragment set
    val folds = (1L to n).flatMap { k =>
      val before = DatasetMetadata.load(spark, base, "ds").deleteFragments.size
      val ((md, _), deleteJobs) =
        jobs(Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", k)))))
      if (before == 40) {
        // past Spark's 32-path parallel-listing threshold: fragments plan
        // from their own listing, so a delete commit starts a pinned
        // number of jobs and planning a read of the dirty label none
        deleteJobs shouldBe 2
        jobs(Ktk.readTable(spark, base, "ds",
          predicates = Predicates.of(Seq(("p", "==", "a")))))._2 shouldBe 0
      }
      md.deleteFragments.size should be <= Sidecars.MaxFragments
      Option.when(md.deleteFragments.size <= before)(md.version)
    }
    folds.size shouldBe 1
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted.toSeq shouldBe
      (n + 1 to n + 10)
    // the CDC feed across the fold boundary never re-emits an old
    // tombstone: every version reports exactly its own deleted row (the
    // range starts two plain commits before the fold)
    val from = folds.head - 3
    val feed = Ktk.readChangeFeed(spark, base, "ds", from)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().sorted.toSeq
    feed shouldBe (from to n).map(k => (k, "delete", k + 1))
    // a plain delete's fragment is disjoint from its parent's (the writer
    // subtracts live tombstones), so feed planning reads only the new
    // fragments: over 10 non-fold commits whose parents hold 39..48
    // fragments — past Spark's 32-path parallel-listing threshold — it
    // starts no job
    folds.head should be > 50L
    DatasetMetadata.invalidateCache(base, "ds")
    val (wide, planJobs) = jobs(Ktk.readChangeFeed(spark, base, "ds", 40L, 50L))
    planJobs shouldBe 0
    wide.select("k", "_change_type", "_commit_version").as[(Long, String, Long)]
      .collect().sorted.toSeq shouldBe (40L until 50L).map(k => (k, "delete", k + 1))
  }

  test("overlay keep-last reads compose with deletion vectors") {
    val base = tmpDir("dv")
    Ktk.store(spark, base, "ds", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    // delete k=2 then read with overlay machinery (cube read path)
    Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", 2))))
    val md = DatasetMetadata.load(spark, base, "ds")
    val df = Ktk.readTableWithMetadata(spark, base, md, withOverlayOrder = true)
    df.columns should contain allOf ("__seq", "__pos")
    df.select("k").as[Long].collect().toSeq shouldBe Seq(1L)
  }
}
