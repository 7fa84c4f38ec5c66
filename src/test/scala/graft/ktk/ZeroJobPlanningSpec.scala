package graft.ktk

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.core.Predicates
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Label pruning through index and zone-map sidecars is planning, not
  * execution: `queryLabels` must start no Spark job, whether the sidecar
  * rows are cached or not. A bloom probe costs exactly its one filter job
  * (hashing the literals runs on the driver).
  */
class ZeroJobPlanningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = {
    val b = tmpDir("zerojob")
    // z lies in [3p, 3p + 2], so zone ranges separate the partitions
    val df = (0 until 400).map(i => (i % 8, (i % 97).toLong, i % 8 * 3 + i % 3, (i * 31 % 500).toLong, s"v$i"))
      .toDF("p", "key", "z", "id", "payload").repartition(4)
    Ktk.store(spark, b, "ds", df, partitionOn = Seq("p"), secondaryIndices = Seq("key"),
      zoneMapFor = Seq("z"), bloomFor = Seq("id"))
    b
  }

  /** Jobs started while `f` runs, counted after the listener bus drained. */
  private def jobs[A](f: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      ListenerBusDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def labels(preds: Predicates, cold: Boolean): (Seq[String], Int) = {
    if (cold) DatasetMetadata.invalidateCache(base, "ds")
    val md = DatasetMetadata.load(spark, base, "ds")
    jobs(Ktk.queryLabels(spark, base, md, preds))
  }

  private val probes = Seq(
    "index ==" -> Predicates.of(Seq(("key", "==", 7L))),
    "index 100-value in" -> Predicates.of(Seq(("key", "in", (0 until 100).map(_ * 1000L + 7)))),
    "zone range" -> Predicates.of(Seq(("z", ">=", 4), ("z", "<", 6))))

  for ((name, preds) <- probes) {
    test(s"queryLabels starts no Spark job for $name, cold and warm") {
      val (cold, coldJobs) = labels(preds, cold = true)
      val (warm, warmJobs) = labels(preds, cold = false)
      coldJobs shouldBe 0
      warmJobs shouldBe 0
      warm shouldBe cold
      cold.size should be > 0
      cold.size should be < DatasetMetadata.load(spark, base, "ds").partitions.size
    }
  }

  test("a bloom probe starts exactly its one filter job") {
    val (_, n) = labels(Predicates.of(Seq(("id", "==", 31L))), cold = true)
    n shouldBe 1
  }
}
