package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path

/** [[Ktk.garbageCollect]] (and the fsck / salvage reports it shares
  * fixtures with) over one ascending walk of the commit log: exact dry-run
  * reports, exact reclamation, the bounded report forms, and refusal when
  * a retained replay chain is severed — cold or warm cache. gc deletes
  * files, so these are data-safety gates.
  */
class GcSpec extends SparkSpec {
  import spark.implicits._

  /** history: v1 store (partitioned) → v2 update (adds files + replaces)
    * → v3 deleteRows (DV fragment) → v4 index → plus an orphan data file
    * and an unreferenced sidecar dir.
    */
  private def seed(base: String): DatasetMetadata = {
    Ktk.store(spark, base, "ds",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
        .toDF("k", "p", "v"),
      partitionOn = Seq("p"))
    Ktk.update(spark, base, "ds",
      Some(Seq((5L, "a", 50.0), (6L, "d", 60.0)).toDF("k", "p", "v")))
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 2))))
    Ktk.addIndex(spark, base, "ds", "k")
    val md = DatasetMetadata.load(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    // orphan data file (referenced by NO version)
    val stray = new Path(s"${md.tableDir(base)}/p=a/stray.parquet")
    val out = fs.create(stray, true); out.write(1); out.close()
    // unreferenced sidecar dir (as if a crashed index build left it)
    fs.mkdirs(new Path(s"$base/ds/${Sidecars.Index.dir}/dead_idx.parquet"))
    val out2 = fs.create(
      new Path(s"$base/ds/${Sidecars.Index.dir}/dead_idx.parquet/part-0.parquet"), true)
    out2.write(1); out2.close()
    md
  }

  /** Reclaimed paths relative to `base`: they mix qualified (table walk)
    * and raw (version records) forms.
    */
  private def rel(base: String, ps: Seq[String]): Seq[String] = {
    val qualified = DatasetMetadata.fs(spark, base).makeQualified(new Path(base)).toString
    ps.map(_.stripPrefix(qualified).stripPrefix(base)).sorted
  }

  /** What retention 1 reclaims from [[seed]]: the two pruned records, the
    * dead index dir and the stray data file.
    */
  private val seedGarbage = Seq(
    "/ds/_versions/v00000001.json", "/ds/_versions/v00000002.delta.json",
    s"/ds/${Sidecars.Index.dir}/dead_idx.parquet", "/ds/table/p=a/stray.parquet")

  test("dry-run reports exactly the seeded garbage and deletes nothing") {
    val base = tmpDir("gcdist")
    seed(base)
    rel(base, Ktk.garbageCollect(spark, base, "ds", retainVersions = 1,
      sidecarGraceMs = 0, dryRun = true)) shouldBe seedGarbage
    // a dry run deletes nothing
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L, 2L, 3L, 4L)
  }

  test("gc reclaims exactly the seeded garbage, and reads survive") {
    val base = tmpDir("gcdst")
    seed(base)
    rel(base, Ktk.garbageCollect(spark, base, "ds",
      retainVersions = 1, sidecarGraceMs = 0)) shouldBe seedGarbage
    // content intact and DV-correct (k=2 stays deleted)
    Ktk.readTable(spark, base, "ds").select("k", "p", "v")
      .as[(Long, String, Double)].collect().toSeq.sorted shouldBe
      Seq((1L, "a", 10.0), (3L, "b", 30.0), (4L, "c", 40.0), (5L, "a", 50.0), (6L, "d", 60.0))
    // retained window still time-travels; pruned history is gone
    val cur = DatasetMetadata.load(spark, base, "ds").version
    Ktk.readTableAsOf(spark, base, "ds", cur - 1).count() should be > 0L
    a[NoSuchElementException] should be thrownBy
      DatasetMetadata.loadVersion(spark, base, "ds", 1L)
    // and the table audits clean afterwards
    Ktk.fsck(spark, base, "ds").count() shouldBe 0L
  }

  test("multibyte UTF-8 partition values round-trip through fsck and gc") {
    // the exact coordinate surface the r11 resurrection bug lived on:
    // labels containing multibyte values must round-trip exactly through
    // the record walk
    val base = tmpDir("gcutf8")
    Ktk.store(spark, base, "ds",
      Seq((1L, "café", 1.0), (2L, "München", 2.0), (3L, "東京", 3.0),
        (4L, "a b%c", 4.0)).toDF("k", "p", "v"),
      partitionOn = Seq("p"))
    Ktk.update(spark, base, "ds", Some(Seq((5L, "café", 5.0)).toDF("k", "p", "v")))
    Ktk.deleteRows(spark, base, "ds", predicates = Predicates.of(Seq(("k", "==", 1))))
    val fs = DatasetMetadata.fs(spark, base)
    val md = DatasetMetadata.load(spark, base, "ds")
    // vanish one multibyte-labeled file + plant one multibyte orphan
    val victim = md.partitions.keys.filter(_.startsWith("p=")).toSeq.sorted.head
    fs.delete(new Path(s"${md.tableDir(base)}/$victim"), false) shouldBe true
    val stray = new Path(s"${md.tableDir(base)}/p=caf%C3%A9/späti.parquet")
    val out = fs.create(stray, true); out.write(1); out.close()
    Ktk.fsck(spark, base, "ds").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq shouldBe
      Seq(("missing_data_file", 3L, victim), ("orphan_file", -1L, "p=caf%C3%A9/späti.parquet"))
    rel(base, Ktk.garbageCollect(spark, base, "ds", retainVersions = 0,
      sidecarGraceMs = 0, dryRun = true)) shouldBe Seq(
      "/ds/_versions/v00000001.json", "/ds/_versions/v00000002.delta.json",
      "/ds/table/p=caf%C3%A9/späti.parquet")
  }

  test("garbageCollectReport lists exactly what garbageCollect returns") {
    val base = tmpDir("gcrep")
    seed(base)
    val plan = Ktk.garbageCollect(spark, base, "ds", retainVersions = 1,
      sidecarGraceMs = 0, dryRun = true).sorted
    val r = Ktk.garbageCollectReport(spark, base, "ds", retainVersions = 1,
      sidecarGraceMs = 0, dryRun = true, reportLimit = 1000000)
    rel(base, plan) shouldBe seedGarbage
    r.reclaimed.sorted shouldBe plan
    r.reclaimedCount shouldBe plan.size.toLong
    r.truncated shouldBe false
  }

  test("bounded report truncates the list, counts fully, reclaims fully") {
    val seqBase = tmpDir("gcrseq")
    val repBase = tmpDir("gcrrep")
    seed(seqBase); seed(repBase)
    val full = Ktk.garbageCollect(spark, seqBase, "ds", retainVersions = 1,
      sidecarGraceMs = 0)
    val r = Ktk.garbageCollectReport(spark, repBase, "ds", retainVersions = 1,
      sidecarGraceMs = 0, reportLimit = 2)
    r.reclaimedCount shouldBe full.size.toLong
    r.truncated shouldBe true
    r.reclaimed should have size 2
    // the reclamation itself is identical: same surviving content, same
    // clean audit — only the RETURNED list is bounded
    def rows(base: String): Seq[(Long, String, Double)] =
      Ktk.readTable(spark, base, "ds").select("k", "p", "v")
        .as[(Long, String, Double)].collect().toSeq.sorted
    rows(repBase) shouldBe rows(seqBase)
    Ktk.fsck(spark, repBase, "ds").count() shouldBe 0L
    // salvageReport: same bounded contract over salvage's damage report
    val fs = DatasetMetadata.fs(spark, repBase)
    val md = DatasetMetadata.load(spark, repBase, "ds")
    md.partitions.keys.take(3).foreach { l =>
      fs.delete(new Path(s"${md.tableDir(repBase)}/$l"), false) shouldBe true
    }
    val sFull = Ktk.salvage(spark, repBase, "ds", dryRun = true)
    val sRep = Ktk.salvageReport(spark, repBase, "ds", dryRun = true, reportLimit = 1)
    sRep.droppedCount shouldBe sFull.size.toLong
    sRep.truncated shouldBe (sFull.size > 1)
    sRep.dropped shouldBe sFull.take(1)
  }

  test("fsck caps orphan rows, count on overflow") {
    val base = tmpDir("gcorphcap")
    seed(base)
    val fs = DatasetMetadata.fs(spark, base)
    val md = DatasetMetadata.load(spark, base, "ds")
    (1 to 4).foreach { i =>
      val out = fs.create(new Path(s"${md.tableDir(base)}/p=a/junk$i.parquet"), true)
      out.write(1); out.close()
    }
    try {
      spark.conf.set("spark.graft.fsck.orphanLimit", "2")
      val rows = Ktk.fsck(spark, base, "ds").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      // the listed sample is the SORTED head; the overflow row carries
      // the full count (4 junk + the seeded stray)
      rows.filter(_._1 == "orphan_file").map(_._3) shouldBe
        Seq("p=a/junk1.parquet", "p=a/junk2.parquet")
      val overflow = rows.filter(_._1 == "orphan_overflow")
      overflow should have size 1
      overflow.head._2 shouldBe 5L
      rows should have size 3
    } finally spark.conf.unset("spark.graft.fsck.orphanLimit")
  }

  test("history and the change feed replay an addSeq-only delta entry") {
    // applyDelta folds adds and addSeq into the snapshot INDEPENDENTLY, so
    // the delta FORMAT permits a seq change without a size change. Today's
    // writer always pairs them (labels are immutable files), but replay
    // must keep the label with its recorded size and take the new seq
    val base = tmpDir("gcseqonly")
    Ktk.store(spark, base, "ds", Seq((1L, "x")).toDF("k", "v"))
    val md = DatasetMetadata.load(spark, base, "ds")
    val label = md.partitions.keys.head
    val delta = VersionDelta(uuid = "ds", parent = 1L,
      addSeq = Map(label -> 7L), schemaJson = md.schemaJson)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val fs = DatasetMetadata.fs(spark, base)
    val out = fs.create(
      new Path(DatasetMetadata.versionDeltaKey(base, "ds", 2L)), false)
    out.write(m.writeValueAsBytes(delta)); out.close()
    DatasetMetadata.invalidateCache(base, "ds")
    val h = Ktk.history(spark, base, "ds").orderBy("version")
      .select("version", "files", "bytes", "files_added", "files_removed", "bytes_added")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val size = md.sizeOf(label)
    // the seq-only entry neither adds nor removes a file; v2 keeps v1's size
    h shouldBe Seq((1L, 1L, size, 1L, 0L, size), (2L, 1L, size, 0L, 0L, 0L))
    val v2 = DatasetMetadata.loadVersion(spark, base, "ds", 2L)
    (v2.sizeOf(label), v2.seqOf(label)) shouldBe ((size, 7L))
    // the feed over v2 sees no file change: no rows
    Ktk.readChangeFeed(spark, base, "ds", 1L, 2L).count() shouldBe 0L
    Ktk.readChangeFeed(spark, base, "ds", 0L, 2L)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSeq shouldBe Seq((1L, "insert", 1L))
  }

  test("non-positive orphanLimit fails loudly, naming the key") {
    // a zero/negative cap would silently preview nothing — reject up front
    val base = tmpDir("gcorphneg")
    seed(base)
    try {
      for (bad <- Seq("0", "-3")) {
        spark.conf.set("spark.graft.fsck.orphanLimit", bad)
        val err = intercept[IllegalArgumentException] {
          Ktk.fsck(spark, base, "ds").count()
        }
        err.getMessage should include("spark.graft.fsck.orphanLimit")
      }
    } finally spark.conf.unset("spark.graft.fsck.orphanLimit")
  }

  test("gc refuses when a retained chain is broken") {
    val base = tmpDir("gcbrk")
    seed(base)
    val fs = DatasetMetadata.fs(spark, base)
    // strand v4: remove v3's delta (v1 full, v2..v4 deltas)
    fs.delete(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 3L)), false) shouldBe true
    DatasetMetadata.invalidateCache(base, "ds")
    val err = intercept[NoSuchElementException] {
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 10,
        sidecarGraceMs = 0, dryRun = true)
    }
    err.getMessage should include("version 4 is unreachable")
  }

  test("gc refuses a broken retained chain even when this JVM caches it") {
    val base = tmpDir("gcbrkwarm")
    seed(base)
    // every version parsed into this JVM's snapshot cache first
    (1L to 4L).foreach(v => DatasetMetadata.loadVersion(spark, base, "ds", v))
    val fs = DatasetMetadata.fs(spark, base)
    fs.delete(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 3L)), false) shouldBe true
    // a fresh reader cannot reach v4: gc must not reap against the cache
    val err = intercept[NoSuchElementException] {
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 10,
        sidecarGraceMs = 0, dryRun = true)
    }
    err.getMessage should include("version 4 is unreachable")
    a[NoSuchElementException] should be thrownBy
      Ktk.garbageCollectReport(spark, base, "ds", retainVersions = 10,
        sidecarGraceMs = 0, dryRun = true)
  }
}
