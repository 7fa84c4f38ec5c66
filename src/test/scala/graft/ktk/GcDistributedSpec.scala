package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path

/** [[Ktk.garbageCollect]]'s big-table mode (the commit-record scan that
  * never loads retained snapshots on the driver, shared with fsck's
  * [[Ktk.CommitRecordScan]]) must be INDISTINGUISHABLE from the driver
  * mode: same dry-run report, same reclamation, same refusals — forced
  * with `diffThreshold = 0` on a small fixture, the same trick FsckSpec
  * uses. gc deletes files, so parity here is a data-safety gate, not a
  * performance nicety.
  */
class GcDistributedSpec extends SparkSpec {
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

  test("dry-run reports are identical in driver and distributed modes") {
    val base = tmpDir("gcdist")
    seed(base)
    def report(threshold: Int): Seq[String] =
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 1,
        sidecarGraceMs = 0, dryRun = true, diffThreshold = threshold).sorted
    val driver = report(Int.MaxValue)
    val dist = report(0)
    dist shouldBe driver
    driver should not be empty // the fixture plants real garbage
  }

  test("distributed gc reclaims exactly what driver gc would, and reads survive") {
    val driverBase = tmpDir("gcdrv")
    val distBase = tmpDir("gcdst")
    seed(driverBase); seed(distBase)
    val drvDeleted = Ktk.garbageCollect(spark, driverBase, "ds",
      retainVersions = 1, sidecarGraceMs = 0, diffThreshold = Int.MaxValue)
    val dstDeleted = Ktk.garbageCollect(spark, distBase, "ds",
      retainVersions = 1, sidecarGraceMs = 0, diffThreshold = 0)
    // same reclamation, modulo the differing base prefix
    def rel(base: String, ps: Seq[String]): Seq[String] = {
      val fs = DatasetMetadata.fs(spark, base)
      val qualified = fs.makeQualified(new Path(base)).toString
      // deleted paths mix qualified (table walk) and raw (version records)
      ps.map(_.stripPrefix(qualified).stripPrefix(base)).sorted
    }
    rel(distBase, dstDeleted) shouldBe rel(driverBase, drvDeleted)
    // content identical and DV-correct (k=2 stays deleted) on both
    def rows(base: String): Seq[(Long, String, Double)] =
      Ktk.readTable(spark, base, "ds").select("k", "p", "v")
        .as[(Long, String, Double)].collect().toSeq.sorted
    rows(distBase) shouldBe rows(driverBase)
    rows(distBase).map(_._1) should not contain 2L
    // retained window still time-travels; pruned history is gone
    val cur = DatasetMetadata.load(spark, distBase, "ds").version
    Ktk.readTableAsOf(spark, distBase, "ds", cur - 1).count() should be > 0L
    a[NoSuchElementException] should be thrownBy
      DatasetMetadata.loadVersion(spark, distBase, "ds", 1L)
    // and the table audits clean afterwards
    Ktk.fsck(spark, distBase, "ds").count() shouldBe 0L
  }

  test("multibyte UTF-8 partition values keep mode parity (fsck and gc)") {
    // the exact coordinate surface the r11 resurrection bug lived on:
    // labels containing multibyte values must round-trip identically
    // through the record scan (Jackson executors) and the driver loads
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
    def audit(threshold: Int): Seq[String] =
      Ktk.fsck(spark, base, "ds", diffThreshold = threshold)
        .collect().map(_.toString).toSeq
    val drv = audit(Int.MaxValue)
    audit(0) shouldBe drv
    drv.exists(_.contains(victim)) shouldBe true
    def gcPlan(threshold: Int): Seq[String] =
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 0,
        sidecarGraceMs = 0, dryRun = true, diffThreshold = threshold).sorted
    gcPlan(0) shouldBe gcPlan(Int.MaxValue)
  }

  test("spark.graft.audit.diffThreshold steers the default mode per session") {
    val base = tmpDir("gcconf")
    seed(base)
    try {
      spark.conf.set("spark.graft.audit.diffThreshold", "0")
      Ktk.fsck(spark, base, "ds").count()
      Ktk.lastAuditDistributed.get() shouldBe true
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 10, dryRun = true)
      Ktk.lastAuditDistributed.get() shouldBe true
      spark.conf.unset("spark.graft.audit.diffThreshold")
      Ktk.fsck(spark, base, "ds").count()
      Ktk.lastAuditDistributed.get() shouldBe false
      // an explicit caller value always wins over the conf
      spark.conf.set("spark.graft.audit.diffThreshold", "0")
      Ktk.fsck(spark, base, "ds", diffThreshold = Int.MaxValue).count()
      Ktk.lastAuditDistributed.get() shouldBe false
    } finally spark.conf.unset("spark.graft.audit.diffThreshold")
  }

  test("garbageCollectReport parity with garbageCollect in both diff modes") {
    val base = tmpDir("gcrep")
    seed(base)
    def plan(threshold: Int): Seq[String] =
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 1,
        sidecarGraceMs = 0, dryRun = true, diffThreshold = threshold).sorted
    def report(threshold: Int): Ktk.GcReport =
      Ktk.garbageCollectReport(spark, base, "ds", retainVersions = 1,
        sidecarGraceMs = 0, dryRun = true, diffThreshold = threshold,
        reportLimit = 1000000)
    for (threshold <- Seq(Int.MaxValue, 0)) {
      val p = plan(threshold)
      val r = report(threshold)
      r.reclaimed.sorted shouldBe p
      r.reclaimedCount shouldBe p.size.toLong
      r.truncated shouldBe false
    }
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

  test("fsck caps orphan rows identically in both modes, count on overflow") {
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
      def audit(threshold: Int): Seq[(String, Long, String)] =
        Ktk.fsck(spark, base, "ds", diffThreshold = threshold).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      val drv = audit(Int.MaxValue)
      audit(0) shouldBe drv
      drv.count(_._1 == "orphan_file") shouldBe 2
      val overflow = drv.filter(_._1 == "orphan_overflow")
      overflow should have size 1
      overflow.head._2 shouldBe 5L // 4 junk + the seeded stray
      // the listed sample is the SORTED head — deterministic across modes
      drv.filter(_._1 == "orphan_file").map(_._3) shouldBe
        drv.filter(_._1 == "orphan_file").map(_._3).sorted
    } finally spark.conf.unset("spark.graft.fsck.orphanLimit")
  }

  test("commit-record scan emits label rows for addSeq-only delta entries") {
    // applyDelta folds adds and addSeq into the snapshot INDEPENDENTLY, so
    // the delta FORMAT permits a seq change without a size change. Today's
    // writer always pairs them (labels are immutable files), but the scan
    // must iterate the UNION of both keysets — a seq-only entry that
    // silently dropped would misclassify rewrites in the distributed CDF's
    // seq<=hwm detection if a future writer ever split the maps
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
    val scan = new Ktk.CommitRecordScan(spark, base, "ds",
      chainStarts = Seq((2L, 1L)), hasFull = v => v == 1L)
    try {
      val rows = scan.recRows.filter("rv = 2 AND kind = 'label'").collect()
      rows should have size 1
      rows.head.getString(2) shouldBe label
      rows.head.getBoolean(3) shouldBe true
      rows.head.getLong(4) shouldBe 0L // size falls back to the other map / 0
      rows.head.getLong(5) shouldBe 7L // the seq-only entry survives
    } finally scan.close()
  }

  test("non-positive orphanLimit fails loudly in both modes, naming the key") {
    // a zero/negative cap would make the modes diverge (driver previews
    // empty; distributed .limit(cap) throws mid-audit) — reject up front
    val base = tmpDir("gcorphneg")
    seed(base)
    try {
      for (bad <- Seq("0", "-3")) {
        spark.conf.set("spark.graft.fsck.orphanLimit", bad)
        for (threshold <- Seq(Int.MaxValue, 0)) {
          val err = intercept[IllegalArgumentException] {
            Ktk.fsck(spark, base, "ds", diffThreshold = threshold).count()
          }
          err.getMessage should include("spark.graft.fsck.orphanLimit")
        }
      }
    } finally spark.conf.unset("spark.graft.fsck.orphanLimit")
  }

  test("malformed audit-threshold conf fails loudly, naming the key") {
    val base = tmpDir("gcbadconf")
    seed(base)
    try {
      spark.conf.set("spark.graft.audit.diffThreshold", "not-a-number")
      val err = intercept[IllegalArgumentException] {
        Ktk.fsck(spark, base, "ds").count()
      }
      err.getMessage should include("spark.graft.audit.diffThreshold")
      // an EXPLICIT caller value equal to the engine default is honored
      // verbatim (the sentinel is negative, not the default constant)
      spark.conf.set("spark.graft.audit.diffThreshold", "0")
      Ktk.fsck(spark, base, "ds",
        diffThreshold = Ktk.DistributedDiffThreshold).count()
      Ktk.lastAuditDistributed.get() shouldBe false
    } finally spark.conf.unset("spark.graft.audit.diffThreshold")
  }

  test("distributed gc refuses when a retained chain is broken") {
    val base = tmpDir("gcbrk")
    seed(base)
    val fs = DatasetMetadata.fs(spark, base)
    // strand v3/v4: remove v3's delta (v1 full, v2..v4 deltas)
    fs.delete(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 3L)), false) shouldBe true
    DatasetMetadata.invalidateCache(base, "ds")
    a[NoSuchElementException] should be thrownBy
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 10,
        sidecarGraceMs = 0, dryRun = true, diffThreshold = 0)
  }
}
