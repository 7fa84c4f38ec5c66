package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Predicates
import graft.ktk.Ktk

/** Wide-range change-feed probe: 120 commits of mixed appends and
  * row-level deletes, then `readChangeFeed` over ranges of growing width.
  * What a long-history consumer cares about:
  *
  *  1. PLANNING time grows ~linearly in the range width (the balanced
  *     union tree — a left-deep chain re-analyzes a growing plan per link
  *     and goes quadratic);
  *  2. the full-range read is exact (every insert and delete accounted),
  *     and a cold full-range plan reads each commit record once;
  *  3. `consumeChanges` drains the same history in bounded batches with
  *     per-poll cost independent of total history length.
  *
  * Run: sbt "Test/runMain graft.tools.StressChangeFeed"
  */
object StressChangeFeed {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = java.nio.file.Files.createTempDirectory("cdfstress").toString
    Ktk.store(spark, base, "ds",
      (0L until 100L).map(i => (i, (i % 4).toString, i * 1.0)).toSeq.toDF("k", "p", "v"),
      partitionOn = Seq("p"))
    var nextK = 100L
    // 119 more commits: 2/3 appends, 1/3 small deletes
    (2 to 120).foreach { v =>
      if (v % 3 == 0) {
        Ktk.deleteRows(spark, base, "ds",
          predicates = Predicates.of(Seq(("k", "==", nextK - 1))))
      } else {
        Ktk.update(spark, base, "ds",
          Some(Seq((nextK, (nextK % 4).toString, nextK * 1.0)).toDF("k", "p", "v")))
        nextK += 1
      }
    }

    // planning cost = building the DataFrame (analysis), not executing it
    def planOnly(from: Long, to: Long): Double =
      time(Ktk.readChangeFeed(spark, base, "ds", from, to).queryExecution.analyzed)._2
    // warm caches (snapshot cache, fragment label cache)
    planOnly(0, 10)
    val t30 = planOnly(0, 30)
    val t60 = planOnly(0, 60)
    val t120 = planOnly(0, 120)
    println(f"plan 30v=$t30%.2fs 60v=$t60%.2fs 120v=$t120%.2fs")
    // flat-ish: 4x the range must stay well under 16x the time (quadratic)
    require(t120 <= t30 * 10 + 2.0,
      f"wide-range planning blew up: 30v=$t30%.2fs vs 120v=$t120%.2fs")

    val ((rows, dels), tFull) = time {
      val df = Ktk.readChangeFeed(spark, base, "ds", 0)
      val byType = df.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (byType.getOrElse("insert", 0L), byType.getOrElse("delete", 0L))
    }
    println(f"full feed: $rows inserts, $dels deletes in $tFull%.1fs")
    require(rows == 100L + 79L && dels == 40L,
      s"feed miscounts: inserts=$rows deletes=$dels")

    // the full-range feed from a COLD cache plans from one walk of the
    // commit log: one record read per version, never a per-version replay
    graft.ktk.DatasetMetadata.invalidateCache(base, "ds")
    val reads0 = graft.ktk.DatasetMetadata.recordReads.get()
    val (_, tCold) = time(Ktk.readChangeFeed(spark, base, "ds", 0).queryExecution.analyzed)
    val coldReads = graft.ktk.DatasetMetadata.recordReads.get() - reads0
    println(f"cold full-range planning: $tCold%.1fs, driver record reads $coldReads")
    require(coldReads <= 120, s"cold CDF planning read $coldReads records for 120 versions")

    // bounded consumption: per-poll time must not scale with history
    val ckpt = s"${java.nio.file.Files.createTempDirectory("cdfstress-ck")}/c.v"
    val pollTimes = Iterator.continually {
      time(Ktk.consumeChanges(spark, base, "ds", ckpt, maxVersionsPerPoll = 10) {
        (df, _, _) => df.count(): Unit
      })
    }.takeWhile(_._1 > 0).map(_._2).toVector
    println(f"polls=${pollTimes.size} first=${pollTimes.head}%.2fs " +
      f"max=${pollTimes.max}%.2fs last=${pollTimes.last}%.2fs")
    require(pollTimes.size == 12, s"expected 12 polls, got ${pollTimes.size}")

    println("StressChangeFeed OK")
    spark.stop()
  }
}
