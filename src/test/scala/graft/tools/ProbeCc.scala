package graft.ops
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Isolated cost of the CC kernel: local union-find vs GraphX Pregel on
  * the same materialized edge set, several sizes, warm reps.
  * Run: Test/runMain graft.tools.ProbeCc
  */
object ProbeCc {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $tag%-22s ${(System.nanoTime() - t0) / 1e9}%6.3f s"); r
    }
    for (n <- Seq(1000, 100000, 2000000)) {
      println(s"edges n=$n")
      val edges = spark.range(n.toLong)
        .select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
        .unionAll(spark.range(n / 10L)
          .select((col("id") * 20).as("id_a"), (col("id") * 20 + 2).as("id_b")))
      edges.write.mode("overwrite").parquet("/tmp/cc_edges")
      val mat = spark.read.parquet("/tmp/cc_edges")
      for (rep <- 1 to 3) {
        time(s"rep$rep local") {
          Dedup.connectedComponentsOf(mat, localEdgeBudget = Long.MaxValue)
            .groupBy().count().head() }
        time(s"rep$rep graphx") {
          Dedup.connectedComponentsOf(mat, localEdgeBudget = 1).groupBy().count().head() }
      }
    }
    spark.stop()
  }
}
