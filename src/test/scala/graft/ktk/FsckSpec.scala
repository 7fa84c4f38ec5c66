package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path

/** Integrity audit ([[Ktk.fsck]]): every storage fault a retained commit
  * can suffer is reported with its kind, the newest affected version, and
  * the path — and a healthy table reports NOTHING. Strictly read-only.
  */
class FsckSpec extends SparkSpec {
  import spark.implicits._

  private def seed(base: String): DatasetMetadata = {
    Ktk.store(spark, base, "ds",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "p", "v"),
      partitionOn = Seq("p"), secondaryIndices = Seq("k")) // v1
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 2)))) // v2: one DV fragment
    DatasetMetadata.load(spark, base, "ds")
  }

  private def kinds(base: String): Map[String, Seq[String]] =
    Ktk.fsck(spark, base, "ds").collect()
      .map(r => r.getString(0) -> r.getString(2)).toSeq
      .groupMap(_._1)(_._2)

  test("a healthy table audits clean") {
    val base = tmpDir("fsck")
    seed(base)
    Ktk.fsck(spark, base, "ds").count() shouldBe 0L
  }

  test("hand-deleted data file, DV fragment, index, and a stray file are each reported") {
    val base = tmpDir("fsck")
    val md = seed(base)
    val fs = DatasetMetadata.fs(spark, base)
    // 1. vanish one referenced data file
    val victim = md.partitions.keys.toSeq.sorted.head
    fs.delete(new Path(s"${md.tableDir(base)}/$victim"), false) shouldBe true
    // 2. vanish the DV fragment (reads would resurrect the deleted row)
    val frag = md.deleteFragments.head
    fs.delete(new Path(md.deletePath(base, frag)), true) shouldBe true
    // 3. vanish the secondary index sidecar
    fs.delete(new Path(md.indexPath(base, "k")), true) shouldBe true
    // 4. plant a stray file under table/
    val stray = new Path(s"${md.tableDir(base)}/p=a/stray.parquet")
    val out = fs.create(stray, true); out.write(1); out.close()

    val got = kinds(base)
    got("missing_data_file") shouldBe Seq(victim)
    got("missing_dv_fragment").head should endWith(frag)
    got("missing_index").head should include("indices/")
    got("orphan_file") shouldBe Seq("p=a/stray.parquet")
    // ordering puts the silent-corruption case first
    Ktk.fsck(spark, base, "ds").collect().head.getString(0) shouldBe "missing_dv_fragment"
  }

  test("a broken replay chain is reported for every version it strands") {
    val base = tmpDir("fsck")
    seed(base) // v1, v2
    (3 to 14).foreach(i => Ktk.update(spark, base, "ds",
      Some(Seq((100L + i, "a", i * 1.0)).toDF("k", "p", "v")))) // v3..v14
    val fs = DatasetMetadata.fs(spark, base)
    // v11..v14 are deltas over the v10 checkpoint: removing v12's record
    // strands v13 and v14 (their walk-back hits the gap); v12 itself
    // disappears from the version listing. The JVM snapshot cache still
    // holds v12..v14 — fsck must audit reachability from STORAGE and
    // report what a FRESH reader would hit, not be masked by the cache.
    fs.delete(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 12L)), false) shouldBe true
    val got = kinds(base)
    // the files v12..v14 added are referenced only by the stranded
    // versions, so they surface as orphans too — a broken chain degrades
    // loudly on both axes, never silently
    got.keySet shouldBe Set("broken_replay_chain", "orphan_file")
    // one row per STRANDED version (v13, v14), each naming the MISSING
    // record (v12's) — the path an operator can actually restore
    got("broken_replay_chain").toSet shouldBe
      Set(DatasetMetadata.versionDeltaKey(base, "ds", 12L))
    got("broken_replay_chain").size shouldBe 2
  }

  test("an underscore-named partition COLUMN audits clean (leaf-file-only filter)") {
    val base = tmpDir("fsck")
    Ktk.store(spark, base, "ds",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "_p", "v"),
      partitionOn = Seq("_p"))
    // the listing filter applies to leaf FILE names only — '_p=a/' dirs
    // must recurse, else every file reads as missing and gc stops reaping
    Ktk.fsck(spark, base, "ds").count() shouldBe 0L
    val md = DatasetMetadata.load(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    Ktk.listTableFiles(spark, fs,
      fs.makeQualified(new Path(md.tableDir(base)))).toSet shouldBe md.partitions.keySet
  }

  test("gc'd history is not audited: a vacuumed table stays clean") {
    val base = tmpDir("fsck")
    seed(base) // v1, v2
    (3 to 6).foreach(i => Ktk.update(spark, base, "ds",
      Some(Seq((100L + i, "a", i * 1.0)).toDF("k", "p", "v")))) // v3..v6
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 1)
    Ktk.fsck(spark, base, "ds").count() shouldBe 0L
  }

  test("referenced-vs-present diff attributes a missing file to its newest version") {
    // a vanished referenced file + a planted orphan over a five-version
    // history: the missing file is attributed to the newest version that
    // references it, and salvage reports the same loss
    val base = tmpDir("fsck")
    val md = seed(base)
    (3 to 5).foreach(i => Ktk.update(spark, base, "ds",
      Some(Seq((100L + i, "a", i * 1.0)).toDF("k", "p", "v")))) // v3..v5
    val fs = DatasetMetadata.fs(spark, base)
    val victim = DatasetMetadata.load(spark, base, "ds").partitions.keys.toSeq.sorted.head
    fs.delete(new Path(s"${md.tableDir(base)}/$victim"), false) shouldBe true
    val stray = new Path(s"${md.tableDir(base)}/p=b/stray.parquet")
    val out = fs.create(stray, true); out.write(1); out.close()
    Ktk.fsck(spark, base, "ds").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq shouldBe
      Seq(("missing_data_file", 5L, victim), ("orphan_file", -1L, "p=b/stray.parquet"))
    Ktk.salvage(spark, base, "ds", dryRun = true) shouldBe Seq(("missing_data_file", victim))
  }

  test("a path component literally named 'table' cannot shift labels") {
    // labels are recovered by stripping the EXACT qualified root — never a
    // '/table/' pattern match, which a greedy regex would anchor at the
    // INNER component here and hand gc a wrong (shorter) label to diff
    // against the referenced set
    val base = tmpDir("fsck")
    val fs = DatasetMetadata.fs(spark, base)
    val root = fs.makeQualified(new Path(s"$base/ds/table"))
    val out = fs.create(new Path(root, "table/f.parquet"), true)
    out.write(1); out.close()
    val out2 = fs.create(new Path(root, "g.parquet"), true)
    out2.write(1); out2.close()
    Ktk.listTableFiles(spark, fs, root, threshold = 1000)
      .sorted shouldBe Seq("g.parquet", "table/f.parquet")
    Ktk.listTableFiles(spark, fs, root, threshold = 0)
      .sorted shouldBe Seq("g.parquet", "table/f.parquet")
  }

  test("parallel table listing returns exactly the driver listing") {
    val base = tmpDir("fsck")
    // nested partitioning + a root-level (unpartitioned) file shape
    Ktk.store(spark, base, "ds",
      (0 until 40).map(i => (i.toLong, s"p${i % 5}", s"q${i % 3}", i * 1.0))
        .toDF("k", "p", "q", "v"),
      partitionOn = Seq("p", "q"))
    val md = DatasetMetadata.load(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    val root = fs.makeQualified(new Path(md.tableDir(base)))
    val onDriver = Ktk.listTableFiles(spark, fs, root, threshold = 1000).sorted
    val distributed = Ktk.listTableFiles(spark, fs, root, threshold = 0).sorted
    onDriver should not be empty
    distributed shouldBe onDriver
    onDriver.toSet shouldBe md.partitions.keySet
  }

  test("a flat table lists exactly its labels and audits clean") {
    val base = tmpDir("fsck")
    // unpartitioned: every file sits in table/ itself, with no first-level
    // directory to walk
    Ktk.store(spark, base, "flat",
      (0 until 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .repartition(12))
    val md = DatasetMetadata.load(spark, base, "flat")
    val fs = DatasetMetadata.fs(spark, base)
    val root = fs.makeQualified(new Path(md.tableDir(base)))
    val onDriver = Ktk.listTableFiles(spark, fs, root).sorted
    onDriver.toSet shouldBe md.partitions.keySet
    Ktk.listTableFiles(spark, fs, root, threshold = 0).sorted shouldBe onDriver
    Ktk.fsck(spark, base, "flat").count() shouldBe 0L
  }

  test("salvage repairs vanished files and dead sidecars; DV loss requires opt-in") {
    val base = tmpDir("fsck")
    val md = seed(base)
    val fs = DatasetMetadata.fs(spark, base)
    val before = Ktk.readTable(spark, base, "ds").count() // 2 live (1 tombstoned)
    // vanish the p=b data file (tombstone-free, so the DV fragment's
    // surviving target stays around for the resurrection stage below)
    // + the index sidecar
    val victim = md.partitions.keys.toSeq.sorted.last
    victim should startWith("p=b/")
    val victimRows = spark.read.parquet(s"${md.tableDir(base)}/$victim").count()
    fs.delete(new Path(s"${md.tableDir(base)}/$victim"), false) shouldBe true
    fs.delete(new Path(md.indexPath(base, "k")), true) shouldBe true
    // dry run reports, commits nothing
    val dry = Ktk.salvage(spark, base, "ds", dryRun = true)
    dry.map(_._1).toSet shouldBe Set("missing_data_file", "missing_index")
    DatasetMetadata.load(spark, base, "ds").version shouldBe md.version
    // real salvage: one commit, reads work again minus the lost rows
    val rep = Ktk.salvage(spark, base, "ds")
    rep.map(_._1).toSet shouldBe Set("missing_data_file", "missing_index")
    val after = DatasetMetadata.load(spark, base, "ds")
    after.version shouldBe md.version + 1
    after.indices shouldBe empty
    Ktk.readTable(spark, base, "ds").count() shouldBe before - victimRows
    // history attributes the repair
    Ktk.history(spark, base, "ds").select("operation")
      .as[String].collect() should contain("SALVAGE")
    // idempotent: nothing left to repair → NO new commit
    Ktk.salvage(spark, base, "ds") shouldBe empty
    DatasetMetadata.load(spark, base, "ds").version shouldBe after.version
    // a lost DV fragment refuses without the resurrection opt-in — but a
    // DRY RUN still reports it (damage assessment must never require the
    // opt-in)
    fs.delete(new Path(after.deletePath(base, after.deleteFragments.head)), true) shouldBe true
    Ktk.salvage(spark, base, "ds", dryRun = true)
      .map(_._1) shouldBe Seq("missing_dv_fragment")
    val e = intercept[IllegalStateException] { Ktk.salvage(spark, base, "ds") }
    e.getMessage should include("RESURRECT")
    Ktk.salvage(spark, base, "ds", acceptResurrection = true)
      .map(_._1) shouldBe Seq("missing_dv_fragment")
    // the tombstoned row is back — exactly the documented consequence
    Ktk.readTable(spark, base, "ds").count() shouldBe before - victimRows + 1
  }

  test("CALL system.fsck surfaces the audit through SQL") {
    val base = tmpDir("fsck")
    val md = seed(base)
    spark.conf.set("spark.sql.catalog.gfsck", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfsck.base", base)
    spark.sql("CALL gfsck.system.fsck(table => 'ds')").count() shouldBe 0L
    DatasetMetadata.fs(spark, base)
      .delete(new Path(md.deletePath(base, md.deleteFragments.head)), true)
    spark.sql("CALL gfsck.system.fsck(table => 'ds')")
      .select("kind").as[String].collect().toSeq shouldBe Seq("missing_dv_fragment")
    // the repair verb refuses through SQL too, then salvages on opt-in
    intercept[Exception] {
      spark.sql("CALL gfsck.system.salvage(table => 'ds')")
    }.getMessage should include("RESURRECT")
    spark.sql("CALL gfsck.system.salvage(table => 'ds', accept_resurrection => true)")
      .select("kind").as[String].collect().toSeq shouldBe Seq("missing_dv_fragment")
    spark.sql("CALL gfsck.system.fsck(table => 'ds')")
      .filter($"version" >= 3).count() shouldBe 0L // repaired head audits clean
  }
}
