package graft.streaming

import graft.SparkSpec
import graft.ktk.{DatasetMetadata, Ktk}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

/** `df.writeStream.format("graft")` — the connector's streaming WRITE
  * surface ([[GraftSink]] via GraftDataSource's StreamSinkProvider).
  * The commit mechanics are KtkSink's (exactly-once table state on the
  * at-least-once micro-batch contract); these tests pin the format
  * registration, the option plumbing and the output-mode mapping.
  */
class GraftSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("p", IntegerType), StructField("k", LongType),
    StructField("v", StringType)))

  private def startGraft(df: org.apache.spark.sql.DataFrame, base: String,
                         uuid: String, ckpt: String,
                         mode: OutputMode = OutputMode.Append(),
                         opts: Map[String, String] = Map.empty) = {
    var w = df.writeStream.format("graft")
      .option("uuid", uuid)
      .option("checkpointLocation", ckpt)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
    opts.foreach { case (k, v) => w = w.option(k, v) }
    w.start(base)
  }

  test("append mode: micro-batches land as atomic commits, exactly once across restarts") {
    val base = tmpDir("gsink")
    Ktk.createEmpty(spark, base, "s1", schema, partitionOn = Seq("p"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String)]
    val df = mem.toDF().toDF("p", "k", "v")
    val ckpt = tmpDir("gsink-ckpt")

    mem.addData((0, 1L, "a"), (1, 2L, "b"))
    startGraft(df, base, "s1", ckpt).awaitTermination()
    Ktk.readTable(spark, base, "s1").count() shouldBe 2

    // restart over the same checkpoint: only the new batch commits
    mem.addData((0, 3L, "c"))
    startGraft(df, base, "s1", ckpt).awaitTermination()
    val rows = Ktk.readTable(spark, base, "s1")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    rows shouldBe Seq((1L, "a"), (2L, "b"), (3L, "c"))
  }

  test("a NEW query (fresh checkpoint) into an already-fed dataset is not replay-skipped") {
    // the replay guard is scoped per streaming query: stream A's batch
    // high-water mark (here 1) must not swallow stream B's batch 0
    val base = tmpDir("gsink-two")
    Ktk.createEmpty(spark, base, "s5", schema, partitionOn = Seq("p"))
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Int, Long, String)]
    memA.addData((0, 1L, "a"))
    memA.addData((0, 2L, "b")) // two batches: A's high-water mark becomes 1
    startGraft(memA.toDF().toDF("p", "k", "v"), base, "s5",
      tmpDir("gsink-two-ckA")).awaitTermination()
    Ktk.readTable(spark, base, "s5").count() shouldBe 2

    val memB = MemoryStream[(Int, Long, String)]
    memB.addData((1, 3L, "c")) // B starts at batch 0 < A's mark
    startGraft(memB.toDF().toDF("p", "k", "v"), base, "s5",
      tmpDir("gsink-two-ckB")).awaitTermination()
    Ktk.readTable(spark, base, "s5")
      .select("k").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("update mode + keys: per-key upsert through the format surface") {
    val base = tmpDir("gsink-up")
    Ktk.createEmpty(spark, base, "s2", schema, partitionOn = Seq("p"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String)]
    val df = mem.toDF().toDF("p", "k", "v")
    val ckpt = tmpDir("gsink-up-ckpt")

    mem.addData((0, 1L, "a"), (0, 2L, "b"))
    startGraft(df, base, "s2", ckpt, OutputMode.Update(),
      Map("keys" -> "p,k")).awaitTermination()
    mem.addData((0, 2L, "b2"), (0, 3L, "c"))
    startGraft(df, base, "s2", ckpt, OutputMode.Update(),
      Map("keys" -> "p,k")).awaitTermination()

    val rows = Ktk.readTable(spark, base, "s2")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    rows shouldBe Seq((1L, "a"), (2L, "b2"), (3L, "c"))
  }

  test("complete mode: each batch is a versioned full-content swap, history intact") {
    val base = tmpDir("gsink-cm")
    val aggSchema = StructType(Seq(
      StructField("p", IntegerType), StructField("n", LongType)))
    Ktk.createEmpty(spark, base, "s3", aggSchema, partitionOn = Nil)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long)]
    val agg = mem.toDF().toDF("p", "k").groupBy("p").count().withColumnRenamed("count", "n")
    val ckpt = tmpDir("gsink-cm-ckpt")

    mem.addData((0, 1L), (0, 2L), (1, 3L))
    startGraft(agg, base, "s3", ckpt, OutputMode.Complete()).awaitTermination()
    Ktk.readTable(spark, base, "s3").select("p", "n").as[(Long, Long)].collect().toSet shouldBe
      Set((0L, 2L), (1L, 1L))

    mem.addData((1, 4L), (2, 5L))
    startGraft(agg, base, "s3", ckpt, OutputMode.Complete()).awaitTermination()
    Ktk.readTable(spark, base, "s3").select("p", "n").as[(Long, Long)].collect().toSet shouldBe
      Set((0L, 2L), (1L, 2L), (2L, 1L))

    // replaceAll keeps the version line: the pre-swap snapshot is travelable
    val versions = DatasetMetadata.listVersions(spark, base, "s3")
    versions.size should be >= 3 // create + 2 swaps
    val prevMd = DatasetMetadata.loadVersion(spark, base, "s3", versions(versions.size - 2))
    Ktk.readTableWithMetadata(spark, base, prevMd)
      .select("p", "n").as[(Long, Long)].collect().toSet shouldBe Set((0L, 2L), (1L, 1L))
  }

  test("CDC mirror purely through connector surfaces: graft-cdc source -> graft sink") {
    // readStream.format("graft-cdc") | writeStream.format("graft",
    // keys+opCol+versionCol) — a downstream mirror with zero engine-API
    // calls on the consumer side. No admission control: the FIRST batch
    // spans every upstream commit (the consumer-downtime shape), including
    // an insert(v1)+delete(v2) pair for one key and a merge's
    // delete+insert image for another — versionCol collapse must resolve
    // each key to its final state instead of resurrecting the deleted one.
    import graft.core.Predicates
    val base = tmpDir("gsink-cdcm")
    val up = Seq((0, 1L, "a"), (0, 2L, "b"), (1, 3L, "c"), (1, 4L, "d"))
      .toDF("p", "k", "v")
    Ktk.store(spark, base, "up_t", up, partitionOn = Seq("p")) // v1
    Ktk.deleteRows(spark, base, "up_t",                        // v2: kill k=1
      predicates = Predicates.of(Seq(("k", "==", 1L))))
    Ktk.merge(spark, base, "up_t",                             // v3: upd + new
      Seq((1, 4L, "d2"), (0, 5L, "e")).toDF("p", "k", "v"), keys = Seq("k"))
    Ktk.createEmpty(spark, base, "mir_t", schema, partitionOn = Seq("p"))

    val stream = spark.readStream.format("graft-cdc")
      .option("uuid", "up_t").load(base)
    val ckpt = tmpDir("gsink-cdcm-ckpt")
    def start() = stream.writeStream.format("graft")
      .option("uuid", "mir_t").option("keys", "k")
      .option("opCol", "_change_type").option("deleteOp", "delete")
      .option("versionCol", "_commit_version")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start(base)

    val q = start()
    try {
      q.processAllAvailable() // one batch covering v1..v3
      val mirror = Ktk.readTable(spark, base, "mir_t")
        .select("p", "k", "v").as[(Long, Long, String)].collect().toSet
      val upstream = Ktk.readTable(spark, base, "up_t")
        .select("p", "k", "v").as[(Long, Long, String)].collect().toSet
      mirror shouldBe upstream
      mirror shouldBe Set((0L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "d2"), (0L, 5L, "e"))

      // live tail: another delete + update while the stream runs
      Ktk.deleteRows(spark, base, "up_t",
        predicates = Predicates.of(Seq(("k", "==", 2L))))
      Ktk.merge(spark, base, "up_t",
        Seq((1, 3L, "c2")).toDF("p", "k", "v"), keys = Seq("k"))
      q.processAllAvailable()
      Ktk.readTable(spark, base, "mir_t")
        .select("p", "k", "v").as[(Long, Long, String)].collect().toSet shouldBe
        Set((1L, 3L, "c2"), (1L, 4L, "d2"), (0L, 5L, "e"))
    } finally q.stop()
  }

  test("one-shot mirror sync: graft-cdc + Trigger.AvailableNow drains, converges, terminates") {
    // the scheduled-job shape: run the connector mirror with AvailableNow
    // so it drains the upstream backlog in bounded batches (delete+insert
    // pairs resolving in-commit via maxVersionsPerTrigger=1), converges,
    // and STOPS on its own — commits made after query start wait for the
    // next scheduled run
    import graft.core.Predicates
    val base = tmpDir("gsink-oneshot")
    val up = Seq((0, 1L, "a"), (0, 2L, "b"), (1, 3L, "c")).toDF("p", "k", "v")
    Ktk.store(spark, base, "up_o", up, partitionOn = Seq("p"))   // v1
    Ktk.deleteRows(spark, base, "up_o",                          // v2
      predicates = Predicates.of(Seq(("k", "==", 1L))))
    Ktk.merge(spark, base, "up_o",                               // v3
      Seq((1, 4L, "d")).toDF("p", "k", "v"), keys = Seq("k"))
    Ktk.createEmpty(spark, base, "mir_o", schema, partitionOn = Seq("p"))

    val ckpt = tmpDir("gsink-oneshot-ckpt")
    def sync() = spark.readStream.format("graft-cdc")
      .option("uuid", "up_o").option("maxVersionsPerTrigger", "1").load(base)
      .writeStream.format("graft")
      .option("uuid", "mir_o").option("keys", "k")
      .option("opCol", "_change_type").option("deleteOp", "delete")
      .option("versionCol", "_commit_version")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(base)

    val q1 = sync()
    try assert(q1.awaitTermination(120000), "first sync did not terminate")
    finally q1.stop()
    def mirror() = Ktk.readTable(spark, base, "mir_o")
      .select("p", "k", "v").as[(Long, Long, String)].collect().toSet
    mirror() shouldBe Set((0L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "d"))

    // upstream moves on; the NEXT scheduled run picks it up from the
    // checkpoint and converges again
    Ktk.merge(spark, base, "up_o",
      Seq((1, 3L, "c2")).toDF("p", "k", "v"), keys = Seq("k")) // v4
    val q2 = sync()
    try assert(q2.awaitTermination(120000), "second sync did not terminate")
    finally q2.stop()
    mirror() shouldBe Set((0L, 2L, "b"), (1L, 3L, "c2"), (1L, 4L, "d"))
  }

  test("mirror follows upstream schema evolution across a stream restart") {
    // a streaming source's schema is fixed at query start, so the new
    // column arrives after a restart (standard Structured Streaming
    // semantics); the sink with evolveSchema=true then evolves the mirror
    // additively on the first batch that carries it
    val base = tmpDir("gsink-evo")
    Ktk.store(spark, base, "up_e",
      Seq((0, 1L, "a"), (0, 2L, "b")).toDF("p", "k", "v"), partitionOn = Seq("p"))
    Ktk.createEmpty(spark, base, "mir_e", schema, partitionOn = Seq("p"))
    val ckpt = tmpDir("gsink-evo-ckpt")
    def run(): Unit = {
      val q = spark.readStream.format("graft-cdc").option("uuid", "up_e").load(base)
        .writeStream.format("graft")
        .option("uuid", "mir_e").option("keys", "k")
        .option("opCol", "_change_type").option("deleteOp", "delete")
        .option("versionCol", "_commit_version")
        .option("evolveSchema", "true")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow()).start(base)
      q.awaitTermination()
    }
    run() // bootstrap with the 3-column schema
    Ktk.readTable(spark, base, "mir_e").columns.toSet shouldBe Set("p", "k", "v")

    // upstream evolves additively and upserts a wider row
    Ktk.merge(spark, base, "up_e",
      Seq((0, 2L, "b2", 7L), (1, 3L, "c", 9L)).toDF("p", "k", "v", "w"),
      keys = Seq("k"), evolveSchema = true)
    run() // restart: the source now carries w; the sink evolves the mirror
    val mirror = Ktk.readTable(spark, base, "mir_e")
    mirror.columns.toSet shouldBe Set("p", "k", "v", "w")
    mirror.select("k", "v", "w").as[(Long, String, Option[Long])]
      .collect().toSet shouldBe
      Set((1L, "a", None), (2L, "b2", Some(7L)), (3L, "c", Some(9L)))
  }

  test("refusals: missing uuid, update without keys, partitionBy mismatch") {
    val base = tmpDir("gsink-bad")
    Ktk.createEmpty(spark, base, "s4", schema, partitionOn = Seq("p"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String)]
    val df = mem.toDF().toDF("p", "k", "v")
    mem.addData((0, 1L, "a"))

    val e1 = intercept[Exception] {
      df.writeStream.format("graft")
        .option("checkpointLocation", tmpDir("ck1"))
        .trigger(Trigger.AvailableNow()).start(base).awaitTermination()
    }
    e1.getMessage should include("uuid")

    val e2 = intercept[Exception] {
      df.writeStream.format("graft").option("uuid", "s4")
        .option("checkpointLocation", tmpDir("ck2"))
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow()).start(base).awaitTermination()
    }
    e2.getMessage should include("keys")

    val e3 = intercept[Exception] {
      df.writeStream.format("graft").option("uuid", "s4")
        .option("checkpointLocation", tmpDir("ck3"))
        .partitionBy("k")
        .trigger(Trigger.AvailableNow()).start(base).awaitTermination()
    }
    e3.getMessage should include("partition")
  }

  test("refusals: a fragment-cap option names the fixed bound") {
    val base = tmpDir("gsink-frag")
    Ktk.createEmpty(spark, base, "s5", schema, partitionOn = Seq("p"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String)]
    mem.addData((0, 1L, "a"))
    val e = intercept[IllegalArgumentException] {
      mem.toDF().toDF("p", "k", "v").writeStream.format("graft").option("uuid", "s5")
        .option("checkpointLocation", tmpDir("ck5")).option("maxSidecarFragments", "6")
        .trigger(Trigger.AvailableNow()).start(base).awaitTermination()
    }
    e.getMessage should (include("maxsidecarfragments") and
      include(s"fixed bound of ${graft.ktk.Sidecars.MaxFragments}"))
  }
}
