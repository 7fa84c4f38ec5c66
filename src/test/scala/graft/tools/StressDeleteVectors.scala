package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Predicates
import graft.ktk.{DatasetMetadata, Ktk, Sidecars}

/** Scale probe for merge-on-read deletion vectors: a large table absorbs a
  * long run of small DELETE and MERGE commits, and the probe measures what
  * a 100 TB operator cares about:
  *
  *  1. commit cost stays O(batch) — a delete touching 1k rows must not
  *     scale with the 2M-row table or the accumulated tombstone count;
  *  2. the fragment list stays BOUNDED: the run crosses
  *     [[graft.ktk.Sidecars.MaxFragments]], and the commit that would pass
  *     it folds the list, so read planning never unions an unbounded
  *     fragment set;
  *  3. the merge-on-read read tax is confined to dirty files — a read
  *     over the untouched partition costs the same as before any delete —
  *     and materializeDeletes returns the whole table to clean-scan cost.
  *
  * Run: sbt "Test/runMain graft.tools.StressDeleteVectors"
  */
object StressDeleteVectors {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val n = 2000000L
    val base = java.nio.file.Files.createTempDirectory("dvstress").toString
    // 2M rows over 8 partition dirs; deletes will only ever touch p=0
    val df = spark.range(n).toDF("k")
      .withColumn("p", pmod(col("k"), lit(8L)))
      .withColumn("v", (col("k") * 37L) % 1000000L)
    Ktk.store(spark, base, "big", df.repartition(32), partitionOn = Seq("p"))

    def readCleanSide(): Long =
      Ktk.readTable(spark, base, "big",
        predicates = Predicates.of(Seq(("p", "==", 7L)))).count()
    def readAll(): Long = Ktk.readTable(spark, base, "big").count()

    val (_, tCleanBefore) = time(readCleanSide())
    val (_, tAllBefore) = time(readAll())

    // nDeletes small delete commits (1k rows each) + 10 small merges, all
    // in p=0 — together past the fragment bound, so at least one folds
    val nDeletes = Sidecars.MaxFragments - 4
    val mergeFrom = nDeletes * 8000L + 80000L
    val deleteTimes = (0 until nDeletes).map { i =>
      val lo = i * 8000L
      val (_, t) = time(Ktk.deleteRows(spark, base, "big",
        filterQuery = Some(s"p = 0 AND k >= $lo AND k < ${lo + 8000}")))
      t
    }
    val mergeTimes = (0 until 10).map { i =>
      val src = spark.range(mergeFrom + i * 800, mergeFrom + i * 800 + 800)
        .toDF("k").withColumn("p", lit(0L)).withColumn("v", lit(-1L))
      val (_, t) = time(Ktk.merge(spark, base, "big", src, keys = Seq("k")))
      t
    }
    val md = DatasetMetadata.load(spark, base, "big")
    val nFrags = md.deleteFragments.size
    val (liveCount, tAllDirty) = time(readAll())
    val (_, tCleanAfter) = time(readCleanSide())

    // connector (DSv2) path, same dirty snapshot: the combined single-exec
    // GraftDvScan de-vectorizes EVERY file while tombstones pend; the
    // GraftDvSplitRule union keeps the clean 7/8 of the table columnar and
    // confines the row-based tombstone filter to p=0's files
    def connectorRead(split: Boolean): Long =
      spark.read.format("graft").option("uuid", "big")
        .option("dvsplit", if (split) "on" else "off")
        .load(base).count()
    val (cCombined, tDvCombined) = time(connectorRead(split = false))
    val (cSplit, tDvSplit) = time(connectorRead(split = true))
    // and the connector clean baseline for the same count query, measured
    // post-materialize below

    val (_, tMaterialize) = time(Ktk.materializeDeletes(spark, base, "big"))
    val (_, tAllAfter) = time(readAll())
    val (_, tDvClean) = time(connectorRead(split = true)) // no DVs left: plain scan
    val fragsAfter = DatasetMetadata.load(spark, base, "big").deleteFragments.size

    println(f"table rows: $n; live after $nDeletes deletes + 10 merges: $liveCount")
    println(f"delete commit sec: first=${deleteTimes.head}%.2f " +
      f"median=${deleteTimes.sorted.apply(nDeletes / 2)}%.2f last=${deleteTimes.last}%.2f")
    println(f"merge  commit sec: first=${mergeTimes.head}%.2f last=${mergeTimes.last}%.2f")
    println(s"fragments after ${nDeletes + 10} delete-bearing commits: $nFrags " +
      s"(bound ${Sidecars.MaxFragments})")
    println(f"read clean partition: before=${tCleanBefore}%.2f after-deletes=${tCleanAfter}%.2f")
    println(f"read all: before=${tAllBefore}%.2f dirty=${tAllDirty}%.2f " +
      f"materialized=${tAllAfter}%.2f (materialize itself ${tMaterialize}%.2f)")
    println(f"connector read all (dirty snapshot): combined-rowbased=${tDvCombined}%.2f " +
      f"union-split=${tDvSplit}%.2f clean-after-materialize=${tDvClean}%.2f")
    println(s"fragments after materialize: $fragsAfter")

    // structural assertions — the probe FAILS loudly if the scale story breaks
    require(nFrags < nDeletes + 10 && nFrags <= Sidecars.MaxFragments,
      s"fragment list did not fold at the bound: $nFrags")
    require(fragsAfter == 0, "materialize left fragments behind")
    // each delete range holds 8000 k-values of which 1/8 have p=0 → 1000
    // rows; merges re-add every row they tombstone (net zero)
    val expectedLive = n - nDeletes * 1000
    require(liveCount == expectedLive,
      s"live count wrong: $liveCount vs $expectedLive")
    require(cCombined == expectedLive && cSplit == expectedLive,
      s"connector counts diverge: combined=$cCombined split=$cSplit vs $expectedLive")
    // commit cost must not grow with accumulated tombstones: allow 3x
    // first-to-last drift (JIT/GC noise) but not O(history) growth
    require(deleteTimes.last < deleteTimes.head * 3 + 1.0,
      s"delete commits grew: ${deleteTimes.head} -> ${deleteTimes.last}")
    spark.stop()
  }
}
