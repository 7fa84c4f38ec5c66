package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import graft.streaming.KtkSink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scans are planned from the snapshot's recorded sizes (the Parquet reader
  * finds each footer from them), so every entry point that references a
  * file must record its true length. After each mutating step, every label
  * of the snapshot must size to its file on disk, and the table must read.
  */
class SizeInvariantSpec extends SparkSpec {
  import spark.implicits._

  private def rows(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i % 4, (i % 53).toLong, i % 29, i.toLong, s"v$i" * (1 + i % 5)))
      .toDF("p", "key", "z", "id", "payload").repartition(3)

  /** (label, recorded size, size on disk) of every label whose sizes differ. */
  private def mismatches(base: String, uuid: String): Seq[(String, Long, Long)] = {
    DatasetMetadata.invalidateCache(base, uuid)
    val md = DatasetMetadata.load(spark, base, uuid)
    val fs = DatasetMetadata.fs(spark, base)
    md.partitions.keys.toSeq.sorted.flatMap { l =>
      val onDisk = fs.getFileStatus(new Path(md.fileFor(base, l))).getLen
      if (md.sizeOf(l) == onDisk) None else Some((l, md.sizeOf(l), onDisk))
    }
  }

  test("every entry point records each referenced label's true size") {
    val base = tmpDir("sizes")
    val fs = DatasetMetadata.fs(spark, base)
    def eq(c: String, v: Any) = Predicates.of(Seq((c, "==", v)))
    // (step, dataset it mutates, the step)
    val steps: Seq[(String, String, () => Unit)] = Seq(
      ("store", "ds", () => Ktk.store(spark, base, "ds", rows(0, 300), partitionOn = Seq("p"),
        sortBy = Seq("key"), secondaryIndices = Seq("key"), zoneMapFor = Seq("z"),
        bloomFor = Seq("id"))),
      ("update append", "ds", () => Ktk.update(spark, base, "ds", Some(rows(300, 360)))),
      ("update delete scope", "ds", () =>
        Ktk.update(spark, base, "ds", None, deleteScope = eq("p", 1))),
      ("update dynamic overwrite", "ds", () => Ktk.update(spark, base, "ds",
        Some(rows(360, 400).filter(col("p") === 2)), dynamicPartitionOverwrite = true)),
      ("update replaceAll", "ds", () =>
        Ktk.update(spark, base, "ds", Some(rows(400, 700)), replaceAll = true)),
      ("deleteRows", "ds", () => Ktk.deleteRows(spark, base, "ds", predicates = eq("key", 5L))),
      ("updateRows", "ds", () =>
        Ktk.updateRows(spark, base, "ds", Map("payload" -> lit("upd")), predicates = eq("key", 6L))),
      ("merge", "ds", () => Ktk.merge(spark, base, "ds", rows(650, 760), keys = Seq("id"))),
      ("materializeDeletes", "ds", () => Ktk.materializeDeletes(spark, base, "ds")),
      ("compact", "ds", () => Ktk.compact(spark, base, "ds")),
      ("clusterZOrder", "ds", () => Ktk.clusterZOrder(spark, base, "ds", Seq("z", "id"))),
      ("two-phase commit", "two", { () =>
        Ktk.createEmpty(spark, base, "two", rows(0, 1).schema, partitionOn = Seq("p"),
          secondaryIndices = Seq("key"))
        val labels = Ktk.writePartition(spark, base, "two", rows(0, 120))
        Ktk.commit(spark, base, "two", labels)
      }),
      ("salvage", "ds", { () =>
        val md = DatasetMetadata.load(spark, base, "ds")
        fs.delete(new Path(md.fileFor(base, md.partitions.keys.toSeq.min)), false) shouldBe true
        Ktk.salvage(spark, base, "ds").map(_._1) shouldBe Seq("missing_data_file")
      }),
      ("replaceTable", "two", () =>
        Ktk.replaceTable(spark, base, "two", rows(800, 900).drop("z"), partitionOn = Seq("p"))),
      ("Kartothek adopt", "kt", { () =>
        val ds = KartothekInterop.write(spark, base, "kt", rows(0, 150), partitionOn = Seq("p"),
          secondaryIndices = Seq("key"), externalIndices = Seq("z"))
        KartothekInterop.adoptAsGraft(spark, base, ds, secondaryIndices = Seq("key"))
      }),
      ("KtkSink batch", "ds", () => KtkSink.commitBatch(rows(900, 960), base, "ds", batchId = 0L)))
    steps.foreach { case (name, uuid, run) =>
      withClue(s"after $name: ") {
        run()
        mismatches(base, uuid) shouldBe Nil
        DatasetMetadata.load(spark, base, uuid).partitions should not be empty
        Ktk.readTable(spark, base, uuid).count() should be > 0L
      }
    }
  }
}
