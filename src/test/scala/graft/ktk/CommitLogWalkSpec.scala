package graft.ktk

import graft.SparkSpec
import graft.core.Predicates

/** `history`, the change feed, fsck and gc each walk the commit log once
  * ([[DatasetMetadata.replay]]): ONE `_versions` listing per call and at
  * most one read of each commit record — not a listing per cold
  * `loadVersion` (O(N²) names on a deep cold history).
  */
class CommitLogWalkSpec extends SparkSpec {
  import spark.implicits._

  test("one _versions listing and at most one record read per version per maintenance call") {
    val base = tmpDir("walk")
    Ktk.store(spark, base, "ds",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "v"), partitionOn = Seq("p")) // v1
    (2 to 4).foreach(i => Ktk.update(spark, base, "ds",
      Some(Seq((10L + i, "a", i * 1.0)).toDF("k", "p", "v")))) // v2..v4
    Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", 2)))) // v5
    // metadata-only commits up to v25: checkpoints at v10 and v20
    var md = DatasetMetadata.load(spark, base, "ds")
    while (md.version < 25L)
      md = DatasetMetadata.store(spark, base, md, parentMd = Some(md))
    val versions = Ktk.listVersions(spark, base, "ds")
    versions shouldBe (1L to 25L)
    DatasetMetadata.isCheckpointVersion(10L) shouldBe true
    DatasetMetadata.isCheckpointVersion(20L) shouldBe true
    md.deleteFragments should have size 1

    def counted[A](f: => A): (A, Long, Long) = {
      DatasetMetadata.invalidateCache(base, "ds")
      val (l0, r0) = (DatasetMetadata.listingReads.get, DatasetMetadata.recordReads.get)
      val out = f
      (out, DatasetMetadata.listingReads.get - l0, DatasetMetadata.recordReads.get - r0)
    }
    val (hist, hl, hr) = counted(Ktk.history(spark, base, "ds").count())
    hist shouldBe 25L
    (hl, hr) shouldBe ((1L, 25L))
    val (feed, fl, fr) = counted(
      Ktk.readChangeFeed(spark, base, "ds", fromVersion = 1L)
        .select("k", "_change_type", "_commit_version")
        .as[(Long, String, Long)].collect().sorted.toSeq)
    feed shouldBe Seq((2L, "delete", 5L), (12L, "insert", 2L), (13L, "insert", 3L),
      (14L, "insert", 4L))
    (fl, fr) shouldBe ((1L, 25L))
    val (audit, al, ar) = counted(Ktk.fsck(spark, base, "ds").count())
    audit shouldBe 0L
    (al, ar) shouldBe ((1L, 25L))
    // every version retained: the walk covers the whole log
    val (all, gl, gr) = counted(Ktk.garbageCollect(spark, base, "ds",
      retainVersions = 25, sidecarGraceMs = 0, dryRun = true))
    all shouldBe empty
    (gl, gr) shouldBe ((1L, 25L))
    // the default retention walks the head only: its chain from v20
    val (head, hgl, hgr) = counted(Ktk.garbageCollect(spark, base, "ds", dryRun = true))
    head should have size 24 // the 24 records retention would prune
    (hgl, hgr) shouldBe ((1L, 6L))
  }
}
