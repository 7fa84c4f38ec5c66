package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Versioned metadata: every commit writes an immutable snapshot
  * (`<uuid>/_versions/v<n>.json`) claimed with create-no-overwrite —
  * optimistic concurrency — plus the latest-pointer blob. Time travel
  * reads any retained snapshot; rollback restores content roll-forward;
  * gc's retention window decides how much history survives.
  */
class VersioningSpec extends SparkSpec {
  import spark.implicits._

  private def df1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
  private def df2 = Seq((3L, "c")).toDF("k", "v")

  test("history reports every version's metrics over a churned log") {
    // churned fixture covering every metrics edge: partitioned store,
    // update that ADDS and REPLACES labels, delete_scope removals, a DV
    // commit (tombstone fragments), a rollback (re-adds old-seq labels),
    // multibyte labels, and a gc'd prefix (oldest retained version's
    // parent unknown -> null metrics)
    val base = tmpDir("histdist")
    Ktk.store(spark, base, "ds",
      Seq((1L, "café", 1.0), (2L, "b", 2.0), (3L, "東京", 3.0)).toDF("k", "p", "v"),
      partitionOn = Seq("p"))
    Ktk.update(spark, base, "ds",
      Some(Seq((4L, "café", 4.0), (5L, "d", 5.0)).toDF("k", "p", "v")))
    Ktk.update(spark, base, "ds", None,
      deleteScope = graft.core.Predicates.of(Seq(("p", "==", "b"))))
    Ktk.deleteRows(spark, base, "ds",
      predicates = graft.core.Predicates.of(Seq(("k", "==", 3))))
    Ktk.rollback(spark, base, "ds", 2L)
    Ktk.update(spark, base, "ds", Some(Seq((6L, "e", 6.0)).toDF("k", "p", "v")))
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 4, sidecarGraceMs = 0)
    val h = Ktk.history(spark, base, "ds")
    h.columns.toSeq shouldBe Seq("version", "committed_at", "operation",
      "files", "bytes", "files_added", "files_removed", "bytes_added",
      "tombstone_fragments", "is_rollback", "rollback_of")
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val rows = h.orderBy("version").collect().toSeq
    rows.map(r => (r.getLong(0), Option(r.getString(2)), r.getLong(3), opt(r, 5),
        opt(r, 6), r.getLong(8), r.getBoolean(9), opt(r, 10))) shouldBe Seq(
      // the gc'd-prefix head reports unknown-parent metrics (nulls)
      (2L, Some("WRITE"), 5L, None, None, 0L, false, None),
      (3L, Some("DELETE SCOPE"), 4L, Some(0L), Some(1L), 0L, false, None),
      (4L, Some("DELETE"), 4L, Some(0L), Some(0L), 1L, false, None),
      (5L, Some("ROLLBACK"), 5L, Some(1L), Some(0L), 0L, true, Some(2L)),
      (6L, Some("WRITE"), 6L, Some(1L), Some(0L), 0L, false, None))
    // bytes are the retained snapshot's recorded sizes; bytes_added the
    // added labels' sizes
    rows.foreach { r =>
      val v = r.getLong(0)
      val md = DatasetMetadata.loadVersion(spark, base, "ds", v)
      r.getLong(4) shouldBe md.partitions.keys.toSeq.map(md.sizeOf).sum
      if (v > 2L) {
        val p = DatasetMetadata.loadVersion(spark, base, "ds", v - 1)
        r.getLong(7) shouldBe
          md.partitions.keys.toSeq.filterNot(p.partitions.contains).map(md.sizeOf).sum
      }
    }
  }

  test("history replays self-contained deltas") {
    // a degraded writer's SELF-CONTAINED delta is a chain terminator that
    // lives at the delta key: the record scan must treat its adds as the
    // complete state (window [v, v]), exactly like loadVersion does
    val base = tmpDir("histsc")
    Ktk.store(spark, base, "ds", df1)        // v1 checkpoint
    Ktk.update(spark, base, "ds", Some(df2)) // v2 delta
    val md2 = DatasetMetadata.load(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    // an external vacuum destroys v1 AND v2 — the next commit degrades to
    // a self-contained record; only v3+ remain listed
    fs.delete(new Path(DatasetMetadata.versionKey(base, "ds", 1L)), false)
    fs.delete(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 2L)), false)
    DatasetMetadata.invalidateCache(base, "ds")
    DatasetMetadata.store(spark, base,
      md2.copy(metadata = md2.metadata + ("who" -> "degraded")))
    DatasetMetadata.invalidateCache(base, "ds")
    Ktk.update(spark, base, "ds", Some(Seq((9L, "z")).toDF("k", "v"))) // v4 delta
    // v3 (self-contained: its parent is not retained, so its metrics are
    // unknown) + v4 (one appended file on top of v3's three)
    Ktk.history(spark, base, "ds").orderBy("version")
      .select("version", "files", "files_added", "files_removed")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq shouldBe
      Seq((3L, 3L, None, None), (4L, 4L, Some(1L), Some(0L)))
    // the change feed rides the same walk
    Ktk.readChangeFeed(spark, base, "ds", 3L)
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSeq shouldBe
      Seq((9L, "z", "insert", 4L))
  }

  test("history nulls metrics across a retained-version gap") {
    // a MIDDLE version's records externally vacuumed while the versions on
    // both sides stay loadable (v1 checkpoint survives; v3 degraded to a
    // self-contained record): retained versions are {1, 3} — NOT
    // contiguous. The driver walk diffs v3 against prev.filter(_.version
    // == 2) = None → null metrics; the distributed path must gate on
    // actual retained density (contains(v-1)), not v > vMin, or every
    // surviving label would count as files_added at v3
    val base = tmpDir("histgap")
    Ktk.store(spark, base, "ds", df1)        // v1 checkpoint
    Ktk.update(spark, base, "ds", Some(df2)) // v2 delta
    val md2 = DatasetMetadata.load(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    // vacuum ONLY v2's record; v1 stays. The next commit finds its parent
    // chain unreadable and degrades to a self-contained v3
    fs.delete(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 2L)), false)
    DatasetMetadata.invalidateCache(base, "ds")
    DatasetMetadata.store(spark, base,
      md2.copy(metadata = md2.metadata + ("who" -> "degraded")))
    DatasetMetadata.invalidateCache(base, "ds")
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L, 3L)
    val driver = Ktk.history(spark, base, "ds").orderBy("version").collect().toSeq
    driver should have size 2
    // v1 diffs against the empty dataset: metrics known
    driver.head.isNullAt(5) shouldBe false
    // v3's parent (v2) is not retained: files_added/removed/bytes_added null
    val v3 = driver.last
    v3.getLong(0) shouldBe 3L
    v3.isNullAt(5) shouldBe true  // files_added
    v3.isNullAt(6) shouldBe true  // files_removed
    v3.isNullAt(7) shouldBe true  // bytes_added
  }

  test("commits bump versions and snapshots accumulate") {
    val base = tmpDir("ver")
    val md1 = Ktk.store(spark, base, "ds", df1)
    DatasetMetadata.load(spark, base, "ds").version shouldBe 1L
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L)
    Ktk.update(spark, base, "ds", Some(df2))
    val cur = DatasetMetadata.load(spark, base, "ds")
    cur.version shouldBe 2L
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L, 2L)
    // the snapshot of v1 is exactly the blob v1 committed
    val snap1 = DatasetMetadata.loadVersion(spark, base, "ds", 1L)
    snap1.partitions.keySet should have size md1.partitions.size.toLong
    snap1.version shouldBe 1L
  }

  test("in-commit timestamps are strictly monotone and drive timestamp travel") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    Ktk.update(spark, base, "ds", Some(df2))
    Ktk.update(spark, base, "ds", Some(Seq((9L, "z")).toDF("k", "v")))
    val stamps = (1L to 3L).map { v =>
      DatasetMetadata.loadVersion(spark, base, "ds", v)
        .metadata(DatasetMetadata.CommitTsKey).toLong
    }
    // strictly increasing even when commits land in the same millisecond
    stamps.sliding(2).foreach { case Seq(a, b) => b should be > a }
    // history reports the stamps, not the record mtimes
    val hist = Ktk.history(spark, base, "ds")
      .select("version", "committed_at")
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    (1L to 3L).foreach(v => hist(v) shouldBe stamps(v.toInt - 1))
    // TIMESTAMP AS OF resolves against the stamp: exactly v2 at v2's
    // instant, v1 just before it, None before the first commit
    Ktk.versionAtTimestamp(spark, base, "ds", stamps(1)) shouldBe Some(2L)
    Ktk.versionAtTimestamp(spark, base, "ds", stamps(1) - 1) shouldBe Some(1L)
    Ktk.versionAtTimestamp(spark, base, "ds", stamps(0) - 1) shouldBe None
  }

  test("versionAtTimestamp: copied dataset with a pre-stamp prefix stays correct") {
    // pre-stamp commits fall back to record MTIMES, which a dataset copy
    // refreshes (young) — NON-monotone against the old stamps of the
    // stamped suffix. The suffix must still binary-search correctly and
    // the prefix must keep the legacy descending-mtime semantics.
    val base = tmpDir("ver")
    val dir = java.nio.file.Paths.get(base, "mix", "_versions")
    java.nio.file.Files.createDirectories(dir)
    (1 to 3).foreach { v => // pre-stamp records; fresh (young) mtimes
      java.nio.file.Files.write(dir.resolve(f"v$v%08d.json"),
        """{"uuid":"mix"}""".getBytes("UTF-8"))
    }
    (4 to 6).foreach { v => // stamped suffix with OLD stamps 4000/5000/6000
      java.nio.file.Files.write(dir.resolve(f"v$v%08d.json"),
        s"""{"uuid":"mix","metadata":{"${DatasetMetadata.CommitTsKey}":"${v * 1000}"}}"""
          .getBytes("UTF-8"))
    }
    Ktk.versionAtTimestamp(spark, base, "mix", 5000L) shouldBe Some(5L)
    Ktk.versionAtTimestamp(spark, base, "mix", 5999L) shouldBe Some(5L)
    Ktk.versionAtTimestamp(spark, base, "mix", 6000L) shouldBe Some(6L)
    // before the stamped suffix: the young copy mtimes match nothing
    Ktk.versionAtTimestamp(spark, base, "mix", 3999L) shouldBe None
    // far future resolves to the head through the fast path
    Ktk.versionAtTimestamp(spark, base, "mix",
      System.currentTimeMillis() + 1000000L) shouldBe Some(6L)
  }

  test("versionAtTimestamp binary-searches: flat lookup counts on a 1k-version history") {
    val base = tmpDir("ver")
    // 1000 metadata-only commits (no data jobs): the in-commit stamps are
    // strictly monotone, which is what the search relies on
    var md = DatasetMetadata(uuid = "tt")
    (1 to 1000).foreach { _ =>
      md = DatasetMetadata.store(spark, base, md, parentMd = Some(md))
    }
    md.version shouldBe 1000L
    def stampOf(v: Long): Long =
      DatasetMetadata.loadVersion(spark, base, "tt", v)
        .metadata(DatasetMetadata.CommitTsKey).toLong
    def loads[A](f: => A): (A, Long) = {
      val before = DatasetMetadata.recordReads.get() + DatasetMetadata.cacheHits.get()
      val out = f
      (out, DatasetMetadata.recordReads.get() + DatasetMetadata.cacheHits.get() - before)
    }
    // correctness across the line: exact stamp, just-before, head, miss
    Ktk.versionAtTimestamp(spark, base, "tt", stampOf(500L)) shouldBe Some(500L)
    Ktk.versionAtTimestamp(spark, base, "tt", stampOf(500L) - 1) shouldBe Some(499L)
    Ktk.versionAtTimestamp(spark, base, "tt", Long.MaxValue) shouldBe Some(1000L)
    Ktk.versionAtTimestamp(spark, base, "tt", stampOf(1L) - 1) shouldBe None
    // flat lookup counts, even for OLD instants (the descending walk's
    // worst case was O(versions) ≈ 1000 loads): ≤ ~(log2(1000)+1) probes,
    // each replaying at most CheckpointEvery-1 delta records
    val budget = 12L * DatasetMetadata.CheckpointEvery
    Seq(stampOf(3L), stampOf(500L), stampOf(997L), Long.MaxValue).foreach { at =>
      val (_, n) = loads(Ktk.versionAtTimestamp(spark, base, "tt", at))
      n should be <= budget
    }
  }

  test("history attributes each commit's operation; inherited stamps display null") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)                    // v1 WRITE
    Ktk.update(spark, base, "ds", Some(df2))             // v2 WRITE
    Ktk.merge(spark, base, "ds", Seq((1L, "m")).toDF("k", "v"), keys = Seq("k")) // v3 MERGE
    Ktk.rollback(spark, base, "ds", 2L)                  // v4 ROLLBACK
    // a raw store that passes NO verb must display null, not v4's verb
    val cur = DatasetMetadata.load(spark, base, "ds")
    DatasetMetadata.store(spark, base, cur, parentMd = Some(cur)) // v5
    val ops = Ktk.history(spark, base, "ds")
      .select("version", "operation").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    ops(1L) shouldBe Some("WRITE")
    ops(2L) shouldBe Some("WRITE")
    ops(3L) shouldBe Some("MERGE")
    ops(4L) shouldBe Some("ROLLBACK")
    ops(5L) shouldBe None
  }

  test("monotone stamps survive a rollback whose target metadata trails the head") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1) // v1
    // simulate a commit line running AHEAD of the wall clock (same-ms
    // bursts advance stamps past now via the +1 rule)
    val cur = DatasetMetadata.load(spark, base, "ds")
    val ahead = System.currentTimeMillis() + 3600000L
    DatasetMetadata.store(spark, base,
      cur.copy(metadata = cur.metadata + (DatasetMetadata.CommitTsKey -> ahead.toString)),
      parentMd = Some(cur)) // v2 stamped ahead+1
    // rollback passes the restore TARGET's (v1) old metadata — the stamp
    // must still floor on the TRUE parent (v2), not on v1
    Ktk.rollback(spark, base, "ds", 1L) // v3
    val s2 = DatasetMetadata.loadVersion(spark, base, "ds", 2L)
      .metadata(DatasetMetadata.CommitTsKey).toLong
    val s3 = DatasetMetadata.loadVersion(spark, base, "ds", 3L)
      .metadata(DatasetMetadata.CommitTsKey).toLong
    s3 should be > s2
  }

  test("time travel reads the dataset as of an old commit") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    Ktk.update(spark, base, "ds", Some(df2))
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
    val asOf1 = Ktk.readTableAsOf(spark, base, "ds", 1L)
    asOf1.select("k").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
    // predicates still apply on as-of reads
    Ktk.readTableAsOf(spark, base, "ds", 1L,
      predicates = Predicates.of(Seq(("k", "==", 2)))).count() shouldBe 1
    // as-of across a delete scope: the deleted partition is back in view
    val base2 = tmpDir("ver")
    Ktk.store(spark, base2, "pds", Seq((1L, "x"), (2L, "y")).toDF("k", "p"),
      partitionOn = Seq("p"))
    Ktk.update(spark, base2, "pds", None,
      deleteScope = Predicates.of(Seq(("p", "==", "x"))))
    Ktk.readTable(spark, base2, "pds").count() shouldBe 1
    Ktk.readTableAsOf(spark, base2, "pds", 1L).count() shouldBe 2
  }

  test("stale writer gets ConcurrentCommitException, not silent clobber") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    val stale = DatasetMetadata.load(spark, base, "ds") // v1
    Ktk.update(spark, base, "ds", Some(df2)) // advances to v2
    // the stale writer re-commits its loaded (v1) view → claims v2 → taken
    val ex = intercept[ConcurrentCommitException] {
      DatasetMetadata.store(spark, base, stale.copy(metadata =
        stale.metadata + ("who" -> "stale")))
    }
    ex.getMessage should include("committed concurrently")
    // the winner's commit is untouched
    DatasetMetadata.load(spark, base, "ds").version shouldBe 2L
  }

  test("rollback restores old content as a new commit; history stays intact") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1, secondaryIndices = Seq("v"))
    Ktk.update(spark, base, "ds", Some(df2))
    val restored = Ktk.rollback(spark, base, "ds", 1L)
    restored.version should be >= 3L
    Ktk.readTable(spark, base, "ds")
      .select("k").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
    // the rolled-over commit is still visible as history
    Ktk.readTableAsOf(spark, base, "ds", 2L).count() shouldBe 3
    // the rebuilt index matches the restored content
    Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("v", "==", "a")))).count() shouldBe 1
    // rolling back to the current version is rejected
    val cur = DatasetMetadata.load(spark, base, "ds").version
    intercept[IllegalArgumentException] { Ktk.rollback(spark, base, "ds", cur) }
  }

  test("as-of reads keep sidecar pruning: version-addressed registries are trusted") {
    val base = tmpDir("ver")
    // disjoint id ranges per file → a point predicate prunes to one file
    val rows = (0 until 300).map(i => (i / 100, i.toLong * 7 + 1, s"v$i"))
      .toDF("p", "id", "payload")
    Ktk.store(spark, base, "ds", rows, bloomFor = Seq("id"), zoneMapFor = Seq("id"))
    val v1 = DatasetMetadata.load(spark, base, "ds").version
    // a pure append adds a fragment to v1's own sidecar dirs: v1's as-of
    // read sees rows of a label it does not reference and still prunes
    Ktk.update(spark, base, "ds",
      Some(Seq((9, 999999L, "fresh")).toDF("p", "id", "payload")))
    DatasetMetadata.load(spark, base, "ds").bloomRegistry shouldBe
      DatasetMetadata.loadVersion(spark, base, "ds", v1).bloomRegistry
    val shared = Ktk.readTableAsOf(spark, base, "ds", v1,
      predicates = Predicates.of(Seq(("id", "==", 999999L))))
    shared.count() shouldBe 0
    shared.inputFiles shouldBe empty
    // later canonical merges (a compaction drops labels, so it folds)
    // rewrite the sidecars — into NEW nonce dirs
    Ktk.compact(spark, base, "ds")
    val v1md = DatasetMetadata.loadVersion(spark, base, "ds", v1)
    val curMd = DatasetMetadata.load(spark, base, "ds")
    curMd.bloomRegistry("id") should not be v1md.bloomRegistry("id")
    // the as-of read at v1 PRUNES files through v1's own (immutable) sidecars
    val asOf = Ktk.readTableAsOf(spark, base, "ds", v1,
      predicates = Predicates.of(Seq(("id", "==", 701L))))
    asOf.select("payload").as[String].collect().toSeq shouldBe Seq("v100")
    asOf.inputFiles.length should be < v1md.partitions.size
    // gc with retention keeps v1's sidecar files pinned alongside its data
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 2)
    val again = Ktk.readTableAsOf(spark, base, "ds", v1,
      predicates = Predicates.of(Seq(("id", "==", 701L))))
    again.select("payload").as[String].collect().toSeq shouldBe Seq("v100")
    again.inputFiles.length should be < v1md.partitions.size
    // a YOUNG unreferenced sidecar survives the default grace window —
    // it could be a concurrent commit's in-flight dir (ADVICE r6)
    Ktk.garbageCollect(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    fs.exists(new Path(v1md.bloomPath(base, "id"))) shouldBe true
    // grace 0 (no concurrent writers): gc drops v1's snapshot AND reaps
    // its now-unreferenced sidecars
    Ktk.garbageCollect(spark, base, "ds", sidecarGraceMs = 0L)
    fs.exists(new Path(v1md.bloomPath(base, "id"))) shouldBe false
    fs.exists(new Path(curMd.bloomPath(base, "id"))) shouldBe true
  }

  test("rollback carries the seq watermark forward — later commits never reuse seqs") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)                                   // v1, seq 0
    Ktk.update(spark, base, "ds", Some(Seq((3L, "c")).toDF("k", "v")))  // v2, seq 1
    Ktk.update(spark, base, "ds", Some(Seq((4L, "d")).toDF("k", "v")))  // v3, seq 2
    Ktk.rollback(spark, base, "ds", 2L)                                 // v4, v2's content
    val rolled = DatasetMetadata.load(spark, base, "ds")
    // the hwm reflects every seq EVER assigned, not v2's restored (older) one
    rolled.metadata(DatasetMetadata.SeqHwmKey).toLong should be >= 2L
    val md5 = Ktk.update(spark, base, "ds", Some(Seq((5L, "e")).toDF("k", "v")))
    val fresh = (md5.partitions.keySet -- rolled.partitions.keySet).head
    // v3's seq 2 is burned: a change feed checkpointed before the rollback
    // (startMaxSeq = 2) must still see this append
    md5.seqOf(fresh) should be >= 3L
  }

  test("gc retention: retainLastMs keeps the wall-clock window (VACUUM RETAIN)") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    Ktk.update(spark, base, "ds", Some(df2))
    Ktk.compact(spark, base, "ds") // v3
    // the whole history was committed inside the window: nothing prunes
    // even though retainVersions=0 alone would keep only the current commit
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 0,
      retainLastMs = 24L * 3600 * 1000)
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L, 2L, 3L)
    Ktk.readTableAsOf(spark, base, "ds", 1L).count() shouldBe 2
    // the window only WIDENS an explicit count: retainVersions still holds
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 2, retainLastMs = 0L)
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L, 2L, 3L)
    // default (no window) reclaims as before
    Ktk.garbageCollect(spark, base, "ds")
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(3L)
  }

  test("gc retention: retainVersions pins files of retained snapshots") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    Ktk.update(spark, base, "ds", Some(df2))
    Ktk.compact(spark, base, "ds") // v3: old files become unreferenced
    // retainVersions=2 keeps v2's (and v1's) snapshot + files → time travel OK
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 2)
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(1L, 2L, 3L)
    Ktk.readTableAsOf(spark, base, "ds", 2L).count() shouldBe 3
    Ktk.readTableAsOf(spark, base, "ds", 1L).count() shouldBe 2
    // default gc prunes history: snapshots gone, files reclaimed
    Ktk.garbageCollect(spark, base, "ds")
    Ktk.listVersions(spark, base, "ds") shouldBe
      Seq(DatasetMetadata.load(spark, base, "ds").version)
    intercept[NoSuchElementException] {
      DatasetMetadata.loadVersion(spark, base, "ds", 1L)
    }
    // rollback to a vacuumed snapshot fails loudly
    intercept[NoSuchElementException] {
      Ktk.rollback(spark, base, "ds", DatasetMetadata.load(spark, base, "ds").version - 1)
    }
    // latest content unaffected by the vacuum
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
  }

  test("concurrent writers with retries: every append lands exactly once") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    // 4 threads × 3 appends each race on the version claim; withCommitRetries
    // re-runs the losing update (which reloads internally)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val futures = (0 until 4).map { t =>
      Future {
        (0 until 3).foreach { i =>
          val k = 100L + t * 10 + i
          Ktk.withCommitRetries(maxRetries = 20) {
            Ktk.update(spark, base, "ds",
              Some(Seq((k, s"t$t-$i")).toDF("k", "v")))
          }
        }
      }
    }
    try Await.result(Future.sequence(futures), 120.seconds)
    finally pool.shutdown()
    // no lost updates: 2 initial + 12 appended rows, all distinct keys
    val keys = Ktk.readTable(spark, base, "ds").select("k").as[Long].collect()
    keys.length shouldBe 14
    keys.distinct.length shouldBe 14
    // version advanced once per commit; snapshots form an unbroken chain
    val md = DatasetMetadata.load(spark, base, "ds")
    md.version shouldBe 13L
    Ktk.listVersions(spark, base, "ds") shouldBe (1L to 13L)
  }

  test("racing pure appends auto-resolve WITHOUT the caller retry wrapper, rewriting nothing") {
    // blind-append auto-resolution (r14): a lost claim re-commits the SAME
    // files against the reloaded parent inside update itself — no
    // withCommitRetries needed for appends, and no batch rewrite, so the
    // race manufactures ZERO orphan files (the cross-process probe pins
    // the same contract across JVMs: StressConcurrentCommit)
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      spark.conf.set("spark.graft.append.commitRetries", "40") // 4-way fan-in
      // three update writers and one two-phase writer: a commit without a
      // delete scope is a pure append too
      val futures = (0 until 4).map { t =>
        Future {
          (0 until 3).foreach { i =>
            val batch = Seq((200L + t * 10 + i, s"t$t-$i")).toDF("k", "v")
            if (t < 3) Ktk.update(spark, base, "ds", Some(batch))
            else Ktk.commit(spark, base, "ds", Ktk.writePartition(spark, base, "ds", batch))
          }
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
    } finally {
      spark.conf.unset("spark.graft.append.commitRetries")
      pool.shutdown()
    }
    val keys = Ktk.readTable(spark, base, "ds").select("k").as[Long].collect()
    keys.length shouldBe 14
    keys.distinct.length shouldBe 14
    DatasetMetadata.load(spark, base, "ds").version shouldBe 13L
    // the fast path never rewrites the batch: zero orphans to audit
    Ktk.fsck(spark, base, "ds")
      .filter("kind like 'orphan%'").count() shouldBe 0L
  }

  test("replaceAll racing a concurrent append stays linearizable") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1) // keys 1, 2
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val swap = Future {
      Ktk.withCommitRetries(maxRetries = 20) {
        Ktk.update(spark, base, "ds",
          Some(Seq((9L, "swap")).toDF("k", "v")), replaceAll = true)
      }
    }
    val append = Future {
      Ktk.withCommitRetries(maxRetries = 20) {
        Ktk.update(spark, base, "ds", Some(Seq((5L, "app")).toDF("k", "v")))
      }
    }
    try Await.result(Future.sequence(Seq(swap, append)), 120.seconds)
    finally pool.shutdown()
    // both committed: exactly two new versions, unbroken chain
    Ktk.listVersions(spark, base, "ds") shouldBe (1L to 3L)
    // linearizable outcomes only: swap-then-append keeps both 9 and 5;
    // append-then-swap leaves just the replacement content
    val keys = Ktk.readTable(spark, base, "ds").select("k")
      .as[Long].collect().sorted.toSeq
    keys should (equal(Seq(5L, 9L)) or equal(Seq(9L)))
    // and the intermediate snapshot reads back consistently with the order
    val v2 = Ktk.readTableAsOf(spark, base, "ds", 2L).select("k")
      .as[Long].collect().sorted.toSeq
    if (keys == Seq(9L)) v2 shouldBe Seq(1L, 2L, 5L) // append landed first
    else v2 shouldBe Seq(9L)                         // swap landed first
  }

  test("two dynamic overwrites of DISJOINT partitions race without losing either") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "dyn",
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "p", "v"),
      partitionOn = Seq("p"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val wa = Future {
      Ktk.withCommitRetries(maxRetries = 20) {
        Ktk.update(spark, base, "dyn",
          Some(Seq((10L, "a", 10.0)).toDF("k", "p", "v")),
          dynamicPartitionOverwrite = true)
      }
    }
    val wb = Future {
      Ktk.withCommitRetries(maxRetries = 20) {
        Ktk.update(spark, base, "dyn",
          Some(Seq((20L, "b", 20.0)).toDF("k", "p", "v")),
          dynamicPartitionOverwrite = true)
      }
    }
    try Await.result(Future.sequence(Seq(wa, wb)), 120.seconds)
    finally pool.shutdown()
    // disjoint scopes commute: regardless of commit order both swaps land
    // and the untouched partition survives
    Ktk.listVersions(spark, base, "dyn") shouldBe (1L to 3L)
    Ktk.readTable(spark, base, "dyn").select("k")
      .as[Long].collect().sorted.toSeq shouldBe Seq(3L, 10L, 20L)
  }

  test("additive schema evolution: new columns appear, old files read as null") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // strict update still rejects the extra column
    intercept[IllegalArgumentException] {
      Ktk.update(spark, base, "ds",
        Some(Seq((3L, "c", 30)).toDF("k", "v", "extra")))
    }
    Ktk.update(spark, base, "ds",
      Some(Seq((3L, "c", 30L)).toDF("k", "v", "extra")), evolveSchema = true)
    val out = Ktk.readTable(spark, base, "ds")
    out.columns.toSeq shouldBe Seq("k", "v", "extra")
    out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap shouldBe
      Map(1L -> None, 2L -> None, 3L -> Some(30L))
    // a later batch MISSING the evolved column is fine too — its files
    // just don't carry it
    Ktk.update(spark, base, "ds",
      Some(Seq((4L, "d")).toDF("k", "v")), evolveSchema = true)
    Ktk.readTable(spark, base, "ds").filter(col("k") === 4L)
      .select("extra").collect().head.isNullAt(0) shouldBe true
    // type change on a shared column is rejected even when evolving
    intercept[IllegalArgumentException] {
      Ktk.update(spark, base, "ds",
        Some(Seq((5L, 99L)).toDF("k", "v")), evolveSchema = true)
    }
    // predicates on the evolved column work (null-safe)
    Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("extra", "==", 30)))).count() shouldBe 1
    // time travel shows the pre-evolution schema
    Ktk.readTableAsOf(spark, base, "ds", 1L).columns.toSeq shouldBe Seq("k", "v")
  }

  test("commit records are O(delta): appends write delta records, checkpoints bound replay") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1) // v1 (checkpoint by definition)
    (0 until 11).foreach { i =>
      Ktk.update(spark, base, "ds", Some(Seq((10L + i, s"u$i")).toDF("k", "v")))
    } // v2..v12
    val fs = DatasetMetadata.fs(spark, base)
    def full(v: Long) = fs.exists(new Path(DatasetMetadata.versionKey(base, "ds", v)))
    def delta(v: Long) = fs.exists(new Path(DatasetMetadata.versionDeltaKey(base, "ds", v)))
    full(1L) shouldBe true
    (2L to 9L).foreach { v =>
      withClue(s"v$v: ") { full(v) shouldBe false; delta(v) shouldBe true }
    }
    full(10L) shouldBe true // periodic checkpoint bounds replay depth
    delta(11L) shouldBe true
    delta(12L) shouldBe true
    // replay reconstructs the exact state at every version in the chain
    (1L to 12L).foreach { v =>
      DatasetMetadata.loadVersion(spark, base, "ds", v).version shouldBe v
      Ktk.readTableAsOf(spark, base, "ds", v).count() shouldBe (2L + (v - 1))
    }
    // the latest pointer is O(1) bytes no matter how many files accumulate
    val key = new Path(DatasetMetadata.metadataKey(base, "ds"))
    fs.getFileStatus(key).getLen should be < 256L
  }

  test("snapshot cache: unchanged pointer loads in one FS read; pointer change invalidates") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)        // v1, seeds the cache
    Ktk.update(spark, base, "ds", Some(df2)) // v2, seeds the cache
    def counting[T](f: => T): (T, Long, Long, Long) = {
      val (r0, l0, p0) = (DatasetMetadata.recordReads.get,
        DatasetMetadata.listingReads.get, DatasetMetadata.pointerReads.get)
      val t = f
      (t, DatasetMetadata.recordReads.get - r0,
        DatasetMetadata.listingReads.get - l0, DatasetMetadata.pointerReads.get - p0)
    }
    // warm load = exactly one pointer read; zero record reads, zero listings
    val (md, rr, lr, pr) = counting(DatasetMetadata.load(spark, base, "ds"))
    md.version shouldBe 2L
    (rr, lr, pr) shouldBe ((0L, 0L, 1L))
    // a SECOND WRITER's commit (cold cache simulates another JVM) moves the
    // pointer — load follows it instead of serving the stale snapshot
    Ktk.update(spark, base, "ds", Some(Seq((9L, "z")).toDF("k", "v"))) // v3
    DatasetMetadata.invalidateCache(base, "ds")
    val (md3, rr3, lr3, pr3) = counting(DatasetMetadata.load(spark, base, "ds"))
    md3.version shouldBe 3L
    // cold resolution: ONE listing locates the whole replay chain (no
    // per-step existence probes), ≤ CheckpointEvery record reads
    lr3 shouldBe 1L
    pr3 shouldBe 1L
    rr3 should be <= DatasetMetadata.CheckpointEvery.toLong
    // and the load right after is free again
    val (_, rr4, lr4, pr4) = counting(DatasetMetadata.load(spark, base, "ds"))
    (rr4, lr4, pr4) shouldBe ((0L, 0L, 1L))
  }

  test("snapshot cache is weight-bounded: a flood of fat snapshots cannot pin the heap") {
    val fat = (0 until 200_000).map(i => s"p/f$i.parquet" -> 1L).toMap
    (0 until 30).foreach { i =>
      DatasetMetadata.cachePut(("weighttest", s"ds$i", 1L),
        DatasetMetadata(uuid = s"ds$i", partitions = fat))
    }
    val (entries, weight) = DatasetMetadata.cacheStats
    // 30 × 200k labels inserted; the bound keeps ≤ 2M labels resident
    weight should be <= 2_000_000L + 200_016L // one over-weight entry tolerated
    entries should be <= 11
    // the most recent insert survives eviction
    DatasetMetadata.cacheGet(("weighttest", "ds29", 1L)) should not be null
    (0 until 30).foreach(i => DatasetMetadata.invalidateCache("weighttest", s"ds$i"))
    DatasetMetadata.cacheStats._1 should be >= 0
  }

  test("createEmpty(overwrite) restarts the version line; stale cache never served") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)                       // v1, old line, 2 rows
    DatasetMetadata.load(spark, base, "ds").version shouldBe 1L
    val schema2 = new org.apache.spark.sql.types.StructType()
      .add("x", org.apache.spark.sql.types.LongType)
    Ktk.createEmpty(spark, base, "ds", schema2, overwrite = true) // v1, NEW line
    val md = DatasetMetadata.load(spark, base, "ds")
    md.version shouldBe 1L
    md.partitions shouldBe empty // a stale cached v1 would still list df1's files
    md.schema.fieldNames.toSeq shouldBe Seq("x")
  }

  test("degraded writer (vacuumed parent chain) keeps the pure claim key: races still collide") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)        // v1 checkpoint
    Ktk.update(spark, base, "ds", Some(df2)) // v2 delta
    val md2 = DatasetMetadata.load(spark, base, "ds")
    val fs = DatasetMetadata.fs(spark, base)
    // an external over-aggressive vacuum destroys v1 — v2's replay chain is
    // now unreachable for any cold reader
    fs.delete(new Path(DatasetMetadata.versionKey(base, "ds", 1L)), false)
    DatasetMetadata.invalidateCache(base, "ds")
    // the degraded commit lands a SELF-CONTAINED record at the DELTA key —
    // never the checkpoint key (claim purity: racers must collide)
    DatasetMetadata.store(spark, base, md2.copy(metadata = md2.metadata + ("who" -> "degraded")))
    fs.exists(new Path(DatasetMetadata.versionDeltaKey(base, "ds", 3L))) shouldBe true
    fs.exists(new Path(DatasetMetadata.versionKey(base, "ds", 3L))) shouldBe false
    // cold readers replay v3 standalone even though v1/v2 are gone
    DatasetMetadata.invalidateCache(base, "ds")
    val md3 = DatasetMetadata.load(spark, base, "ds")
    md3.version shouldBe 3L
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
    // and commits continue on top of the full record
    Ktk.update(spark, base, "ds", Some(Seq((7L, "w")).toDF("k", "v")))
    DatasetMetadata.invalidateCache(base, "ds")
    Ktk.readTable(spark, base, "ds").count() shouldBe 4
    // a second degraded writer racing the SAME version now collides loudly
    // instead of publishing a divergent record on the other key
    intercept[ConcurrentCommitException] {
      DatasetMetadata.store(spark, base, md2.copy(metadata = md2.metadata + ("who" -> "late")))
    }
  }

  test("legacy full-blob metadata (pre-pointer format) still loads unchanged") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1) // v1 checkpoint = the legacy blob format
    val fs = DatasetMetadata.fs(spark, base)
    // overwrite the tiny pointer with the FULL v1 snapshot blob — exactly
    // what a dataset written before the delta log looks like on disk
    val v1Key = new Path(DatasetMetadata.versionKey(base, "ds", 1L))
    val bytes = {
      val in = fs.open(v1Key)
      try { val b = new Array[Byte](fs.getFileStatus(v1Key).getLen.toInt)
        in.readFully(b); b }
      finally in.close()
    }
    val key = new Path(DatasetMetadata.metadataKey(base, "ds"))
    val out = fs.create(key, true)
    try out.write(bytes) finally out.close()
    val md = DatasetMetadata.load(spark, base, "ds")
    md.version shouldBe 1L
    Ktk.readTable(spark, base, "ds").count() shouldBe 2
    // the next commit on top of the legacy blob re-enters the version line
    Ktk.update(spark, base, "ds", Some(df2))
    DatasetMetadata.load(spark, base, "ds").version shouldBe 2L
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
  }

  test("gc keeps delta chains self-contained: oldest retained version is checkpointed") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1) // v1
    (0 until 4).foreach { i =>
      Ktk.update(spark, base, "ds", Some(Seq((20L + i, s"g$i")).toDF("k", "v")))
    } // v2..v5, all deltas whose replay chains run through v1
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 2) // keep v3..v5
    Ktk.listVersions(spark, base, "ds") shouldBe Seq(3L, 4L, 5L)
    val fs = DatasetMetadata.fs(spark, base)
    // v3's chain needed v1+v2 — gc materialized it as a full checkpoint
    fs.exists(new Path(DatasetMetadata.versionKey(base, "ds", 3L))) shouldBe true
    (3L to 5L).foreach { v =>
      Ktk.readTableAsOf(spark, base, "ds", v).count() shouldBe (2L + (v - 1))
    }
    intercept[NoSuchElementException] {
      DatasetMetadata.loadVersion(spark, base, "ds", 2L)
    }
    // current reads unaffected
    Ktk.readTable(spark, base, "ds").count() shouldBe 6
  }

  test("overwrite continues the version line; copy starts a fresh one") {
    val base = tmpDir("ver")
    Ktk.store(spark, base, "ds", df1)
    Ktk.update(spark, base, "ds", Some(df2))
    Ktk.store(spark, base, "ds", df1, overwrite = true)
    DatasetMetadata.load(spark, base, "ds").version shouldBe 3L
    // rolling back past the overwrite fails loudly: the overwrite replaced
    // the table dir, so v2's files are gone even though its snapshot exists
    intercept[IllegalStateException] { Ktk.rollback(spark, base, "ds", 2L) }
    val copied = Ktk.copyDataset(spark, base, "ds", "ds2")
    copied.version shouldBe 1L
    Ktk.listVersions(spark, base, "ds2") shouldBe Seq(1L)
    // no snapshot blobs of the source leaked into the copy
    val fs = DatasetMetadata.fs(spark, base)
    val vdir = new Path(DatasetMetadata.versionsDir(base, "ds2"))
    fs.listStatus(vdir).map(_.getPath.getName).toSet shouldBe Set("v00000001.json")
    Ktk.readTable(spark, base, "ds2").count() shouldBe 2
  }
}
