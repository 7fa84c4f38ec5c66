package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Predicates
import graft.ktk.{DatasetMetadata, Ktk, Sidecars}
import graft.streaming.KtkSink

/** Scale probe for streaming-commit sidecar maintenance: a dataset is
  * pre-seeded with a large committed history (the index/bloom the canonical
  * merge has to re-read), then a run of small commits is timed in both
  * maintenance modes. Canonical merge pays O(index) per commit — it re-reads
  * and rewrites every sidecar — while appendSidecars pays O(batch): per-commit
  * cost must stay flat as history accumulates, and the final probe proves the
  * appended fragments still prune and compact re-canonicalizes them.
  * Run: sbt "Test/runMain graft.tools.StressStreamCommit"
  */
object StressStreamCommit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // seed: 800k rows of committed history with a secondary index + bloom —
    // the sidecar mass a canonical merge must re-chew on every commit
    val seedN = 800000L
    def seed(tag: String): String = {
      val base = java.nio.file.Files.createTempDirectory(s"scommit-$tag").toString
      val df = spark.range(seedN).toDF("k")
        .withColumn("v", concat(lit("val-"), pmod(col("k"), lit(50000))))
      Ktk.store(spark, base, "s", df, secondaryIndices = Seq("v"), bloomFor = Seq("k"))
      base
    }

    def batch(b: Long) = spark.range(b * 1000, b * 1000 + 1000).toDF("k")
      .withColumn("v", concat(lit("batch-"), lit(b), lit("-"), pmod(col("k"), lit(100))))

    val nBatches = 12

    val canonBase = seed("canon")
    val canonTimes = (0 until nBatches).map { b =>
      val (_, t) = time(Ktk.update(spark, canonBase, "s", Some(batch(b)),
        extraMetadata = Map("stream.last_batch_id" -> b.toString)))
      t
    }

    val appendBase = seed("append")
    val appendTimes = (0 until nBatches).map { b =>
      val (_, t) = time(KtkSink.commitBatch(batch(b), appendBase, "s", batchId = b))
      t
    }

    def stats(ts: Seq[Double]) = f"first=${ts.head}%.2f last=${ts.last}%.2f " +
      f"mean=${ts.sum / ts.size}%.2f s"
    println(s"canonical merge  per-commit: ${stats(canonTimes)}")
    println(s"append sidecars  per-commit: ${stats(appendTimes)}")
    val speedup = canonTimes.sum / appendTimes.sum
    println(f"append mode is ${speedup}%.1fx faster over $nBatches commits")

    // correctness after the append run: fragments prune, reads stay exact
    val md = DatasetMetadata.load(spark, appendBase, "s")
    val hit = Ktk.readTable(spark, appendBase, "s",
      predicates = Predicates.of(Seq(("v", "==", "batch-7-55")))).count()
    require(hit > 0, "appended index fragment did not resolve")
    val labels = Ktk.queryLabels(spark, appendBase, md,
      Predicates.of(Seq(("k", "==", 7123L))))
    println(s"bloom probe over appended fragments kept ${labels.size}/${md.partitions.size} files")
    require(labels.size < md.partitions.size, "bloom fragments did not prune")

    val (_, tc) = time(Ktk.compact(spark, appendBase, "s"))
    val md2 = DatasetMetadata.load(spark, appendBase, "s")
    val canonRows = Ktk.loadIndex(spark, appendBase, md2, "v")
      .groupBy("value").count().filter(col("count") > 1).count()
    require(canonRows == 0, "compact left multi-row index values")
    println(f"compact re-canonicalized in $tc%.2f s; total rows preserved: " +
      s"${Ktk.readTable(spark, appendBase, "s").count()}")
    require(speedup > 1.5, f"append mode speedup only ${speedup}%.1fx")

    // ---- long run under the fixed fragment bound alone (compactEvery off):
    // sidecar part-file counts must stay within Sidecars.MaxFragments across
    // enough commits to cross it, with each commit folding in place
    val capBase = seed("fragcap")
    var maxFrag = 0
    var folds = 0
    (0 until Sidecars.MaxFragments + 8).foreach { b =>
      val before = Ktk.sidecarFragments(spark, capBase, "s")
      KtkSink.commitBatch(batch(100 + b), capBase, "s", batchId = b, compactEvery = 0)
      val now = Ktk.sidecarFragments(spark, capBase, "s")
      if (now < before) folds += 1
      maxFrag = math.max(maxFrag, now)
    }
    println(s"fragment bound long run: max post-commit fragments = $maxFrag, folds = $folds")
    require(maxFrag <= Sidecars.MaxFragments, s"sidecar fragments unbounded: $maxFrag")
    require(folds >= 1, "no commit folded a full sidecar dir")
    val capHit = Ktk.readTable(spark, capBase, "s",
      predicates = Predicates.of(Seq(("v", "==", "batch-120-55")))).count()
    require(capHit > 0, "index row lost across canonicalization passes")
    println("fragment-cap stress OK")

    // ---- commit cost vs historical file count: labels now come from the
    // write job's manifest (no table-dir relisting), so an update against a
    // dataset holding 1200 historical files must cost about the same as one
    // against 40 files. No sidecars here — isolates the listing/commit path.
    def seedFiles(tag: String, nFiles: Int): String = {
      val base = java.nio.file.Files.createTempDirectory(s"histsz-$tag").toString
      val df = spark.range(nFiles.toLong * 10).toDF("k")
        .withColumn("v", col("k").cast("string")).repartition(nFiles)
      Ktk.store(spark, base, "h", df)
      base
    }
    def commitTimes(base: String): Seq[Double] = (0 until 6).map { b =>
      val (_, t) = time(Ktk.update(spark, base, "h",
        Some(spark.range(b * 100L, b * 100L + 100).toDF("k")
          .withColumn("v", col("k").cast("string")))))
      t
    }
    val smallBase = seedFiles("small", 40)
    val bigBase = seedFiles("big", 1200)
    val tSmall = commitTimes(smallBase).sum / 6
    val tBig = commitTimes(bigBase).sum / 6
    println(f"per-commit: 40-file history $tSmall%.2f s, 1200-file history $tBig%.2f s " +
      f"(ratio ${tBig / tSmall}%.2f)")
    require(tBig <= 2.0 * tSmall + 0.25,
      f"commit time grew with historical file count: $tSmall%.2f -> $tBig%.2f s")
    println("history-independent commit stress OK")

    // ---- commit BYTES vs historical file count: a commit's version record
    // is an O(delta) action log entry, so the bytes written (and re-read by
    // the next planning load) must stay flat as the dataset grows from 40
    // to ~10,000 files — the pre-r6 snapshot-per-commit paid O(#files) here.
    def recordBytes(base: String, uuid: String): Long = {
      val md = DatasetMetadata.load(spark, base, uuid)
      val fsys = DatasetMetadata.fs(spark, base)
      val d = new org.apache.hadoop.fs.Path(
        DatasetMetadata.versionDeltaKey(base, uuid, md.version))
      val f = new org.apache.hadoop.fs.Path(
        DatasetMetadata.versionKey(base, uuid, md.version))
      fsys.getFileStatus(if (fsys.exists(d)) d else f).getLen
    }
    def smallCommit(base: String): Long = {
      Ktk.update(spark, base, "g", Some(spark.range(10).toDF("k")
        .withColumn("v", col("k").cast("string"))))
      recordBytes(base, "g")
    }
    // a measured commit must land on a DELTA version, not a periodic
    // checkpoint — burn a filler commit when the next version would be one
    def ensureDeltaNext(base: String): Unit =
      if (DatasetMetadata.isCheckpointVersion(
          DatasetMetadata.load(spark, base, "g").version + 1)) {
        smallCommit(base); ()
      }
    val gBase = java.nio.file.Files.createTempDirectory("cbytes").toString
    Ktk.store(spark, gBase, "g", spark.range(400).toDF("k")
      .withColumn("v", col("k").cast("string")).repartition(40)) // v1: 40 files
    val bytesAt40 = smallCommit(gBase) // v2, delta
    // grow history to >=10k files (AQE coalesces tiny shuffle partitions,
    // so the files-per-update is adaptive — loop until the count is there)
    var nFiles = DatasetMetadata.load(spark, gBase, "g").partitions.size
    while (nFiles < 10000) {
      Ktk.update(spark, gBase, "g", Some(spark.range(2490L).toDF("k")
        .withColumn("v", col("k").cast("string")).repartition(2490)))
      nFiles = DatasetMetadata.load(spark, gBase, "g").partitions.size
    }
    ensureDeltaNext(gBase)
    val bytesAt10k = smallCommit(gBase)
    // contrast: drive onto the next periodic checkpoint, which IS
    // O(#files) by design
    while (!DatasetMetadata.isCheckpointVersion(
        DatasetMetadata.load(spark, gBase, "g").version + 1)) { smallCommit(gBase); () }
    smallCommit(gBase) // lands exactly on the checkpoint version
    val checkpointBytes = recordBytes(gBase, "g")
    println(f"commit record bytes: 40-file history $bytesAt40, " +
      f"$nFiles-file history $bytesAt10k (checkpoint: $checkpointBytes)")
    require(nFiles >= 10000, s"probe expected ~10k files of history, got $nFiles")
    require(bytesAt10k <= 2 * bytesAt40 + 1024,
      s"commit bytes grew with file count: $bytesAt40 -> $bytesAt10k")
    require(checkpointBytes > 10 * bytesAt10k,
      "checkpoint should dwarf a delta record on a 10k-file dataset " +
        s"($checkpointBytes vs $bytesAt10k) — is the delta really O(batch)?")
    println("O(delta) commit-bytes stress OK")
    spark.stop()
  }
}
