package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Scale probe for the incremental minhash history probe's broadcast
  * budget (r14 judge directive #1): the same batch runs once UNDER the
  * key budget (broadcast-pruned history scan) and once FORCED over it
  * (hints dropped, the (band, bucket) semi-join shuffles), at 1x / 10x /
  * 100x the gate's batch size against a fixed 10k-doc history — the
  * numbers locate the crossover where shuffling starts beating an
  * ever-growing broadcast, and prove the fallback path returns identical
  * decisions at every scale.
  * Run: sbt "Test/runMain graft.tools.StressMinhashIncr"
  */
object StressMinhashIncr {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val history = d.filter(col("doc_id") % 3 =!= 0)
    val sigs = Dedup.minhashSignatures(history, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"history sigs=${sigs.count()}")
    val fresh = d.filter(col("doc_id") % 3 === 0)
    def batchAt(mult: Int) = (0 until mult).map { i =>
      val nearCopies = history
        .withColumn("doc_id", col("doc_id") + lit(1000000L * (i + 1)))
        .withColumn("text", concat(lit(s"xqzy$i "), col("text")))
      val freshVar = fresh
        .withColumn("doc_id", col("doc_id") + lit(100000000L * (i + 1)))
        .withColumn("text",
          if (i == 0) col("text") else concat(lit(s"totally new preamble $i with unshared words "), col("text")))
      nearCopies.unionByName(freshVar)
    }.reduce(_ unionByName _)
    for (mult <- Seq(1, 10, 100)) {
      val batch = batchAt(mult)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = batch.count()
      // the probe broadcasts iff expectedBatchItems × 32 bands fits its
      // 4M-key budget: 1 item forces the broadcast path, 2^40 the shuffle
      def run(label: String, sizedAs: Long): Long = {
        val t0 = System.nanoTime()
        val s = Dedup.minhashAgainstHistory(batch, "doc_id", "text", sigs,
          threshold = 0.6, expectedBatchItems = sizedAs).count()
        println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.1f s, survivors=$s")
        s
      }
      println(s"batch x$mult = $n docs (keys = ${n * 32}):")
      val b = run("broadcast (sized as 1 doc)", 1L)
      val sh = run("shuffle (sized as 2^40)  ", 1L << 40)
      require(b == sh, s"paths disagree at x$mult: broadcast=$b shuffle=$sh")
      batch.unpersist()
    }
    spark.stop()
  }
}
