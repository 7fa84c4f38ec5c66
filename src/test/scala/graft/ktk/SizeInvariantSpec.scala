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
  *
  * The same steps pin the commit step's sequence and deletion-vector
  * rules: appended labels take the parent's watermark + 1 and record it,
  * rewritten labels keep their victims' seq, untouched labels keep theirs,
  * and no committed fragment names a label the step dropped.
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

  /** The highest seq `md` ever assigned: its watermark or a live label's. */
  private def hwm(md: DatasetMetadata): Long =
    (md.metadata.get(DatasetMetadata.SeqHwmKey).map(_.toLong).getOrElse(0L) +:
      md.partitions.keys.toSeq.map(md.seqOf)).max

  /** Seq and deletion-vector rules of one step from `before` to `after`;
    * `rule` is "append", "rewrite" or "none" (no label added).
    */
  private def checkCommitRules(base: String, rule: String,
      before: DatasetMetadata, after: DatasetMetadata): Unit = {
    val added = after.partitions.keySet -- before.partitions.keySet
    val dropped = before.partitions.keySet -- after.partitions.keySet
    (after.partitions.keySet & before.partitions.keySet).foreach { l =>
      withClue(s"untouched $l: ") { after.seqOf(l) shouldBe before.seqOf(l) }
    }
    val afterHwm = after.metadata.get(DatasetMetadata.SeqHwmKey)
    rule match {
      case "append" =>
        added.foreach(l => withClue(s"appended $l: ") { after.seqOf(l) shouldBe hwm(before) + 1 })
        afterHwm shouldBe Some((hwm(before) + 1).toString)
      case "rewrite" =>
        val victimSeqs = dropped.map(before.seqOf)
        added.foreach(l => withClue(s"rewritten $l: ") { victimSeqs should contain(after.seqOf(l)) })
        afterHwm shouldBe before.metadata.get(DatasetMetadata.SeqHwmKey)
      case "none" =>
        added shouldBe empty
        afterHwm shouldBe before.metadata.get(DatasetMetadata.SeqHwmKey)
    }
    (DeleteVectors.labels(spark, base, after) & dropped) shouldBe empty
  }

  test("every entry point records each referenced label's true size") {
    val base = tmpDir("sizes")
    val fs = DatasetMetadata.fs(spark, base)
    def eq(c: String, v: Any) = Predicates.of(Seq((c, "==", v)))
    // (step, dataset it mutates, seq rule of its commit, the step); a step
    // that creates its dataset has no parent to check the rules against
    val steps: Seq[(String, String, String, () => Unit)] = Seq(
      ("store", "ds", "-", () => Ktk.store(spark, base, "ds", rows(0, 300), partitionOn = Seq("p"),
        sortBy = Seq("key"), secondaryIndices = Seq("key"), zoneMapFor = Seq("z"),
        bloomFor = Seq("id"))),
      ("update append", "ds", "append", () => Ktk.update(spark, base, "ds", Some(rows(300, 360)))),
      ("update delete scope", "ds", "append", () =>
        Ktk.update(spark, base, "ds", None, deleteScope = eq("p", 1))),
      // the dropped labels hold tombstones: their fragment must not survive
      ("update delete scope over tombstones", "ds", "append", { () =>
        Ktk.deleteRows(spark, base, "ds",
          predicates = Predicates.of(Seq(("p", "==", 3), ("key", "==", 7L))))._2 should be > 0L
        Ktk.update(spark, base, "ds", None, deleteScope = eq("p", 3))
      }),
      ("update dynamic overwrite", "ds", "append", () => Ktk.update(spark, base, "ds",
        Some(rows(360, 400).filter(col("p") === 2)), dynamicPartitionOverwrite = true)),
      ("update replaceAll", "ds", "append", () =>
        Ktk.update(spark, base, "ds", Some(rows(400, 700)), replaceAll = true)),
      ("deleteRows", "ds", "none", () => Ktk.deleteRows(spark, base, "ds", predicates = eq("key", 5L))),
      ("updateRows", "ds", "append", () =>
        Ktk.updateRows(spark, base, "ds", Map("payload" -> lit("upd")), predicates = eq("key", 6L))),
      ("merge", "ds", "append", () => Ktk.merge(spark, base, "ds", rows(650, 760), keys = Seq("id"))),
      ("materializeDeletes", "ds", "rewrite", () => Ktk.materializeDeletes(spark, base, "ds")),
      ("compact", "ds", "rewrite", () => Ktk.compact(spark, base, "ds")),
      ("clusterZOrder", "ds", "rewrite", () => Ktk.clusterZOrder(spark, base, "ds", Seq("z", "id"))),
      ("two-phase commit", "two", "-", { () =>
        Ktk.createEmpty(spark, base, "two", rows(0, 1).schema, partitionOn = Seq("p"),
          secondaryIndices = Seq("key"))
        val labels = Ktk.writePartition(spark, base, "two", rows(0, 120))
        Ktk.commit(spark, base, "two", labels)
      }),
      ("salvage", "ds", "none", { () =>
        val md = DatasetMetadata.load(spark, base, "ds")
        fs.delete(new Path(md.fileFor(base, md.partitions.keys.toSeq.min)), false) shouldBe true
        Ktk.salvage(spark, base, "ds").map(_._1) shouldBe Seq("missing_data_file")
      }),
      ("replaceTable", "two", "append", () =>
        Ktk.replaceTable(spark, base, "two", rows(800, 900).drop("z"), partitionOn = Seq("p"))),
      ("Kartothek adopt", "kt", "-", { () =>
        val ds = KartothekInterop.write(spark, base, "kt", rows(0, 150), partitionOn = Seq("p"),
          secondaryIndices = Seq("key"), externalIndices = Seq("z"))
        KartothekInterop.adoptAsGraft(spark, base, ds, secondaryIndices = Seq("key"))
      }),
      ("KtkSink batch", "ds", "append", () => KtkSink.commitBatch(rows(900, 960), base, "ds", batchId = 0L)))
    steps.foreach { case (name, uuid, rule, run) =>
      withClue(s"after $name: ") {
        val before =
          if (rule == "-") None
          else {
            DatasetMetadata.invalidateCache(base, uuid)
            Some(DatasetMetadata.load(spark, base, uuid))
          }
        run()
        mismatches(base, uuid) shouldBe Nil
        before.foreach(checkCommitRules(base, rule, _, DatasetMetadata.load(spark, base, uuid)))
        DatasetMetadata.load(spark, base, uuid).partitions should not be empty
        Ktk.readTable(spark, base, uuid).count() should be > 0L
      }
    }
  }
}
