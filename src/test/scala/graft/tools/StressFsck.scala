package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.ktk.{DatasetMetadata, Ktk}

/** Scale probe for the maintenance walk: a deep retained history of 20
  * versions × 120k labels (2.28M label × retained-version attribution
  * pairs) audited by fsck, gc and history through ONE ascending walk of
  * the commit log. What a 100 TB operator cares about:
  *
  *  1. fsck finds EXACTLY the planted faults (2 vanished data files + 1
  *     orphan) out of 120k present files × 20 retained versions — no
  *     false rows, deterministic order; gc's dry run flags exactly the
  *     orphan; history returns one row per version;
  *  2. driver memory: each walk holds one snapshot at a time plus the
  *     labels the retained versions reference, and fills no snapshot
  *     cache — this probe MEASURES wall time, retained heap after the
  *     call and the peak heap during it, and pins one record read per
  *     retained version;
  *  3. the million-orphan phases: gc's bounded report and fsck's capped
  *     orphan preview keep the driver's RETURN bounded.
  *
  * History fabrication goes through the PUBLIC commit API
  * (`DatasetMetadata.store`), not hand-written JSON: v1 is a real
  * `Ktk.store`, v2 adds the 120k fabricated labels (one O(adds) delta),
  * v3..v20 re-commit the same state (O(1) deltas; v10/v20 full
  * checkpoints) — exactly the record mix a long-lived table carries.
  *
  * Run: sbt "Test/runMain graft.tools.StressFsck"
  */
object StressFsck {
  // RSS is useless in local mode (executor tasks inflate the same JVM and
  // the heap never shrinks under -Xmx48g); the honest driver-floor signals
  // are (a) RETAINED heap after GC — what the snapshot cache actually
  // holds once the audit returns — and (b) PEAK heap pools during the
  // audit, which capture driver-mode's transient all-snapshots-at-once
  // working set.
  private def retainedHeapMb(): Long = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1024 / 1024
  }
  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  private def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def peakHeapMb(): Long =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1024 / 1024

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = java.nio.file.Files.createTempDirectory("fsckstress").toString

    // v1: a real 1-partition table through the normal write path
    Ktk.store(spark, base, "ds",
      Seq((1L, "seed", 1.0)).toDF("k", "p", "v"), partitionOn = Seq("p"))
    val md1 = DatasetMetadata.load(spark, base, "ds")

    // 120k fabricated labels over 400 partition dirs, plus their present
    // files (empty — fsck lists names, never reads pages)
    val nDirs = 400; val perDir = 300
    val labels: Seq[String] = for {
      d <- 0 until nDirs; f <- 0 until perDir
    } yield f"p=d$d%04d/fab-$f%05d.parquet"
    val tableDir = md1.tableDir(base)
    val (_, tCreate) = time {
      spark.sparkContext.parallelize(labels, 32).foreachPartition { it =>
        it.foreach { l =>
          val f = new java.io.File(s"$tableDir/$l")
          f.getParentFile.mkdirs()
          f.createNewFile()
          ()
        }
      }
    }
    println(f"created ${labels.size} present files in $tCreate%.1f s")

    // v2..v20: each retained version references seed + all 120k labels.
    // Sizes churn every 4th version so the history carries ~6 DISTINCT
    // state generations: a no-churn history would let applyDelta's
    // immutable-map structural sharing make every replayed snapshot
    // nearly free (filter-of-nothing returns `this`), hiding driver-mode
    // cost behind an unrealistically friendly fixture.
    val bigSeq = md1.partitionSeq ++ labels.map(_ -> 2L)
    var cur = md1
    val (_, tCommits) = time {
      (2 to 20).foreach { v =>
        val gen = 1024L + (v / 4) * 4
        val parts = md1.partitions ++ labels.map(_ -> gen)
        cur = DatasetMetadata.store(spark, base,
          cur.copy(partitions = parts, partitionSeq = bigSeq),
          parentMd = Some(cur), operation = "stress-fabricate")
      }
    }
    val versions = DatasetMetadata.listVersions(spark, base, "ds")
    val pairs = versions.map(v =>
      DatasetMetadata.loadVersion(spark, base, "ds", v).partitions.size.toLong).sum
    println(f"fabricated ${versions.size} retained versions in $tCommits%.1f s; " +
      s"attribution pairs = $pairs")
    require(pairs > 2000000L, s"probe must exceed 2M attribution pairs: $pairs")

    // isolate the listing cost: the shared input of every audit below
    val fs = DatasetMetadata.fs(spark, base)
    val (listed, tList) = time {
      Ktk.listTableFiles(spark, fs,
        fs.makeQualified(new Path(tableDir))).size
    }
    println(f"raw listing: $listed files in $tList%.1f s")

    // plant the faults: 2 vanished referenced files + 1 orphan
    val victims = Seq(labels(12345), labels(98765)).sorted
    victims.foreach(v => require(fs.delete(new Path(s"$tableDir/$v"), false)))
    val orphan = "p=d0007/stray.parquet"
    val out = fs.create(new Path(s"$tableDir/$orphan"), true)
    out.write(1); out.close()

    /** One maintenance call from a COLD snapshot cache: wall time, driver
      * record reads, retained heap after the call and peak heap during it.
      */
    def measured[A](name: String)(f: => A): A = {
      DatasetMetadata.invalidateCache(base, "ds")
      val h0 = retainedHeapMb(); resetPeaks()
      val reads0 = DatasetMetadata.recordReads.get()
      val (res, t) = time(f)
      val reads = DatasetMetadata.recordReads.get() - reads0
      val peak = peakHeapMb()
      val h1 = retainedHeapMb()
      println(f"$name: $t%.1f s, driver record reads $reads, " +
        s"retained heap $h0 -> $h1 MB (delta ${h1 - h0}), peak $peak MB")
      // one read per retained version, never a per-version chain replay
      require(reads <= versions.size, s"$name read $reads records for ${versions.size} versions")
      // the walk fills no snapshot cache: nothing stays behind
      require(h1 - h0 < 300, s"$name retained ${h1 - h0} MB after returning")
      res
    }

    val rows = measured("fsck") { Ktk.fsck(spark, base, "ds").collect() }
    val gotMissing = rows.filter(_.getString(0) == "missing_data_file")
      .map(_.getString(2)).toSeq.sorted
    val gotOrphan = rows.filter(_.getString(0) == "orphan_file")
      .map(_.getString(2)).toSeq
    require(gotMissing == victims, s"missing_data_file rows: $gotMissing")
    require(gotOrphan == Seq(orphan), s"orphan_file rows: $gotOrphan")
    require(rows.length == 3, s"exactly the 3 planted faults: ${rows.length}")

    // gc's dry run must flag the planted orphan and NOTHING else (the two
    // vanished victims are a storage fault, fsck's jurisdiction, not
    // garbage)
    val gcRep = measured("gc dry-run") {
      Ktk.garbageCollect(spark, base, "ds", retainVersions = 25,
        sidecarGraceMs = 0, dryRun = true)
    }
    require(gcRep.size == 1 && gcRep.head.endsWith(orphan), s"gc dry-run: $gcRep")

    val hist = measured("history") { Ktk.history(spark, base, "ds").collect() }
    require(hist.length == versions.size, s"history rows: ${hist.length}")

    // salvage dry-run audits the CURRENT snapshot only (120k pairs):
    // exactly the two vanished labels, no commit
    val v0 = DatasetMetadata.load(spark, base, "ds").version
    val (rep, tSalv) = time { Ktk.salvage(spark, base, "ds", dryRun = true) }
    println(f"salvage dry-run:   $tSalv%.1f s, ${rep.size} rows")
    require(rep.map(_._2).sorted == victims, s"salvage dry-run: $rep")
    require(DatasetMetadata.load(spark, base, "ds").version == v0, "dryRun committed!")

    // ---- million-orphan reap through the BOUNDED report path ----
    // gc diffs one listing against the referenced labels on the driver and
    // holds the garbage there as strings while it runs (the peak heap);
    // garbageCollectReport must RETURN at most reportLimit names and leave
    // nothing behind once it returns, however many orphans exist. ~1M
    // planted orphans, retained heap pinned.
    val oDirs = 500; val oPer = 2000
    val orphanLabels: Seq[(Int, Int)] =
      for (d <- 0 until oDirs; f <- 0 until oPer) yield (d, f)
    val (_, tOrph) = time {
      spark.sparkContext.parallelize(orphanLabels, 32).foreachPartition { it =>
        it.foreach { case (d, f) =>
          val file = new java.io.File(
            f"$tableDir/p=orph$d%04d/junk-$f%05d.parquet")
          file.getParentFile.mkdirs()
          file.createNewFile()
          ()
        }
      }
    }
    val nOrphans = oDirs.toLong * oPer + 1 // + the earlier stray
    println(f"planted ${oDirs * oPer} extra orphan files in $tOrph%.1f s")
    DatasetMetadata.invalidateCache(base, "ds")
    val h4 = retainedHeapMb(); resetPeaks()
    val (dryRep, tDryRep) = time {
      Ktk.garbageCollectReport(spark, base, "ds", retainVersions = 25,
        sidecarGraceMs = 0, dryRun = true, reportLimit = 1000)
    }
    val p5 = peakHeapMb()
    val h5 = retainedHeapMb()
    println(f"gc_report dry-run: $tDryRep%.1f s, count ${dryRep.reclaimedCount}, " +
      s"listed ${dryRep.reclaimed.size}, truncated ${dryRep.truncated}, " +
      s"retained heap $h4 -> $h5 MB (delta ${h5 - h4}), peak $p5 MB")
    require(dryRep.reclaimedCount == nOrphans,
      s"expected $nOrphans orphans, counted ${dryRep.reclaimedCount}")
    require(dryRep.reclaimed.size == 1000 && dryRep.truncated,
      s"driver-side return must be capped at reportLimit: ${dryRep.reclaimed.size}")
    require(h5 - h4 < 300,
      s"bounded gc report retained ${h5 - h4} MB — orphan names leaking to the driver?")
    // fsck's orphan preview is capped the same way: 1000 sorted rows + an
    // overflow row carrying the full count at 1M orphans
    spark.conf.set("spark.graft.fsck.orphanLimit", "1000")
    DatasetMetadata.invalidateCache(base, "ds")
    val h8 = retainedHeapMb()
    val (cappedRows, tCapped) = time { Ktk.fsck(spark, base, "ds").collect() }
    val h9 = retainedHeapMb()
    spark.conf.unset("spark.graft.fsck.orphanLimit")
    val nOrphRows = cappedRows.count(_.getString(0) == "orphan_file")
    val overflow = cappedRows.filter(_.getString(0) == "orphan_overflow")
    println(f"capped fsck: $tCapped%.1f s, ${cappedRows.length} rows " +
      s"($nOrphRows orphan + ${overflow.length} overflow), retained heap " +
      s"$h8 -> $h9 MB (delta ${h9 - h8})")
    require(nOrphRows == 1000 && overflow.length == 1, "orphan cap must hold")
    require(overflow.head.getLong(1) == nOrphans,
      s"overflow row must carry the full count: ${overflow.head.getLong(1)}")
    require(h9 - h8 < 300,
      s"capped fsck retained ${h9 - h8} MB — orphan rows leaking to the driver?")

    // the real bounded run reclaims all of them without returning the
    // million names, and the table audits clean after
    val h6 = retainedHeapMb(); resetPeaks()
    val (realRep, tRealRep) = time {
      Ktk.garbageCollectReport(spark, base, "ds", retainVersions = 25,
        sidecarGraceMs = 0, reportLimit = 1000)
    }
    val p7 = peakHeapMb()
    val h7 = retainedHeapMb()
    println(f"gc_report real run: $tRealRep%.1f s, count ${realRep.reclaimedCount}, " +
      s"retained heap $h6 -> $h7 MB (delta ${h7 - h6}), peak $p7 MB")
    require(realRep.reclaimedCount == nOrphans, s"real reap: ${realRep.reclaimedCount}")
    val (postRows, tPost) = time { Ktk.fsck(spark, base, "ds").collect() }
    val postKinds = postRows.map(_.getString(0)).toSet
    println(f"post-reap fsck: $tPost%.1f s, ${postRows.length} rows ($postKinds)")
    // the two vanished victims remain storage faults; every orphan is gone
    require(!postKinds.contains("orphan_file"),
      s"orphans survived the bounded reap: ${postRows.mkString(", ")}")

    println("OK")
    spark.stop()
  }
}
