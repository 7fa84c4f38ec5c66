package graft.ktk

import graft.{PlanWalk, SparkSpec}
import graft.core.Predicates
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Label pruning through index and zone-map sidecars is planning, not
  * execution: `queryLabels` must start no Spark job, whether the sidecar
  * rows are cached or not. A bloom probe costs exactly its one filter job
  * (hashing the literals runs on the driver). Scan planning takes the
  * files and schema from the snapshot, so a read plans with no job at
  * all, past Spark's parallel-listing threshold too; a pure append adds
  * its sidecar rows without reading the existing sidecars.
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

  /** 12 partitions × 4 writer tasks: 48 labels, past the 32 paths at which
    * Spark lists in a distributed job.
    */
  private def wide(prefix: String): String = {
    val b = tmpDir(prefix)
    val df = (0 until 600).map(i => (i % 12, (i % 97).toLong, i % 12 * 3 + i % 3, (i * 31 % 500).toLong, s"v$i"))
      .toDF("p", "key", "z", "id", "payload").repartition(4)
    Ktk.store(spark, b, "ds", df, partitionOn = Seq("p"), secondaryIndices = Seq("key"),
      zoneMapFor = Seq("z"), bloomFor = Seq("id"))
    b
  }

  private lazy val wideBase = wide("zerojob-wide")

  test("reading more than 32 labels plans with no Spark job, Ktk.readTable and DSv2, cold and warm") {
    val md = DatasetMetadata.load(spark, wideBase, "ds")
    md.partitions.size should be > 32
    val inList = Predicates.of(Seq(("key", "in", (0 until 100).map(_.toLong))))
    Ktk.queryLabels(spark, wideBase, md, inList).size should be > 32
    for (cold <- Seq(true, false)) withClue(s"cold=$cold: ") {
      if (cold) DatasetMetadata.invalidateCache(wideBase, "ds")
      val (ktk, ktkJobs) = jobs {
        val df = Ktk.readTable(spark, wideBase, "ds", predicates = inList)
        df.queryExecution.executedPlan
        df
      }
      ktkJobs shouldBe 0
      if (cold) DatasetMetadata.invalidateCache(wideBase, "ds")
      val (v2, v2Jobs) = jobs {
        val df = spark.read.format("graft").option("uuid", "ds").load(wideBase)
          .filter(org.apache.spark.sql.functions.col("key") < 100L)
        df.queryExecution.executedPlan
        df
      }
      v2Jobs shouldBe 0
      PlanWalk.batchScans(v2.queryExecution.executedPlan).map(_.scan)
        .collect { case p: org.apache.spark.sql.execution.datasources.v2.FileScan =>
          p.fileIndex.inputFiles.length }.sum shouldBe md.partitions.size
      ktk.count() shouldBe 600
      v2.count() shouldBe 600
    }
  }

  test("change-feed planning over deletion-vector commits starts no Spark job") {
    val b = tmpDir("zerojob-cdf")
    Ktk.store(spark, b, "ds", Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "a", 50.0), (6L, "b", 60.0)).toDF("k", "p", "v"),
      partitionOn = Seq("p")) // v1
    (1L to 5L).foreach { k => // v2..v6
      Ktk.deleteRows(spark, b, "ds", predicates = Predicates.of(Seq(("k", "==", k))))
    }
    Ktk.merge(spark, b, "ds",
      Seq((6L, "b", 66.0), (9L, "c", 90.0)).toDF("k", "p", "v"), keys = Seq("k")) // v7
    DatasetMetadata.invalidateCache(b, "ds")
    val (feed, n) = jobs(Ktk.readChangeFeed(spark, b, "ds", 1))
    n shouldBe 0
    // each delete reports exactly its tombstoned row; the merge its
    // matched delete plus the batch's inserts
    feed.select("k", "_change_type", "_commit_version").as[(Long, String, Long)]
      .collect().sorted.toSeq shouldBe (1L to 5L).map(k => (k, "delete", k + 1)) ++
      Seq((6L, "delete", 7L), (6L, "insert", 7L), (9L, "insert", 7L))
  }

  test("a pure append starts a pinned number of jobs, none reading an existing sidecar") {
    val b = wide("zerojob-append")
    val sidecarDirs = Sidecars.kinds.map(k => new org.apache.hadoop.fs.Path(s"$b/ds/${k.dir}"))
      .map(p => DatasetMetadata.fs(spark, b).makeQualified(p).toString)
    val read = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case r: LogicalRelation => r.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.foreach(p => read.add(p.toString))
            case _                   => ()
          }
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val batch = (600 until 660).map(i => (i % 12, (i % 97).toLong, i % 12 * 3 + i % 3, i.toLong, s"v$i"))
      .toDF("p", "key", "z", "id", "payload").repartition(2)
    val before = DatasetMetadata.load(spark, b, "ds")
    val (md, n) = try jobs(Ktk.update(spark, b, "ds", Some(batch))) finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    Sidecars.kinds.foreach(k => k.registry(md) shouldBe k.registry(before))
    read.size should be > 0 // the batch's own files are scanned
    read.forEach(p => sidecarDirs.foreach(d => p should not startWith d))
    // two for the data write (the batch's shuffle, then the write) and two
    // per kind (the batch scan's shuffle, then the fragment write)
    n shouldBe 8
  }
}
