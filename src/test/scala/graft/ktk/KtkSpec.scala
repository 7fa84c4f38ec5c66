package graft.ktk

import graft.SparkSpec
import graft.core.{Predicates, SchemaUtil}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** End-to-end dataset lifecycle: store → read w/ pushdown → index pruning →
  * update w/ delete_scope → GC. Mirrors the reference's io/testing suites.
  */
class KtkSpec extends SparkSpec {
  import spark.implicits._

  private def sample = Seq(
    (1, "a", 10.0, "x"),
    (1, "b", 20.0, "y"),
    (2, "a", 30.0, "x"),
    (2, "c", 40.0, "z"),
    (3, "b", 50.0, "y")
  ).toDF("p", "l", "target", "tag")

  test("store + read full roundtrip, normalized schema & column order") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    val back = Ktk.readTable(spark, base, "ds")
    // partition keys first, payload alphabetical; ints normalized to long
    back.columns.toSeq shouldBe Seq("p", "l", "tag", "target")
    back.schema("p").dataType shouldBe LongType
    back.count() shouldBe 5
    back.agg(sum("target")).head.getDouble(0) shouldBe 150.0
  }

  test("partition pruning reads only matching files") {
    val base = tmpDir("ktk")
    val md = Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    md.partitions.keySet.exists(_.startsWith("p=1/")) shouldBe true
    val labels = Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("p", "==", 1))))
    labels.forall(_.startsWith("p=1/")) shouldBe true
    val df = Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("p", "==", 1), ("target", ">", 15.0))))
    df.select("l").as[String].collect().sorted.toSeq shouldBe Seq("b")
    // physical check: scan reads only the pruned file list
    df.inputFiles.forall(_.contains("p=1")) shouldBe true
  }

  test("secondary index pruning + disjunction union") {
    val base = tmpDir("ktk")
    val md = Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"), secondaryIndices = Seq("tag"))
    val labels = Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("tag", "==", "z"))))
    labels.forall(_.startsWith("p=2/")) shouldBe true
    val df = Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("tag", "==", "z"))))
    df.select("l").as[String].collect().toSeq shouldBe Seq("c")
    // disjunction: union of label sets
    val both = Ktk.queryLabels(spark, base, md,
      Predicates.of(Seq(("tag", "==", "z")), Seq(("p", "==", 3))))
    both.exists(_.startsWith("p=2/")) shouldBe true
    both.exists(_.startsWith("p=3/")) shouldBe true
  }

  test("projection validates missing columns") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    an[IllegalArgumentException] should be thrownBy
      Ktk.readTable(spark, base, "ds", columns = Seq("nope"))
  }

  test("== null predicate on an indexed column keeps partitions holding nulls") {
    val base = tmpDir("ktk")
    val data = Seq(
      (1, "a", Option("x")), (1, "b", Option.empty[String]), (2, "c", Option("y"))
    ).toDF("p", "l", "tag")
    Ktk.store(spark, base, "ds", data, partitionOn = Seq("p"), secondaryIndices = Seq("tag"))
    // nulls are never indexed, so index pruning must SKIP the null literal
    // (not prune p=1, whose file holds the null row) and leave it to the
    // residual filter
    val rows = Ktk.readTable(spark, base, "ds",
      predicates = graft.core.Predicates.of(Seq(("tag", "==", null))))
    rows.select("l").as[String].collect().toSeq shouldBe Seq("b")
    // `in` lists containing null are equally non-prunable
    val rows2 = Ktk.readTable(spark, base, "ds",
      predicates = graft.core.Predicates.of(Seq(("tag", "in", Seq(null, "y")))))
    rows2.select("l").as[String].collect().sorted.toSeq shouldBe Seq("b", "c")
    // != null stays prunable and correct
    val rows3 = Ktk.readTable(spark, base, "ds",
      predicates = graft.core.Predicates.of(Seq(("tag", "!=", null))))
    rows3.select("l").as[String].collect().sorted.toSeq shouldBe Seq("a", "c")
  }

  test("two-phase write: partitions from separate jobs, one atomic commit") {
    val base = tmpDir("ktk")
    Ktk.createEmpty(spark, base, "tp", sample.schema,
      partitionOn = Seq("p"), secondaryIndices = Seq("tag"), zoneMapFor = Seq("target"))
    // header visible, zero partitions, empty read works
    Ktk.readTable(spark, base, "tp").count() shouldBe 0

    // two independent "jobs" write disjoint slices — still invisible
    val labels1 = Ktk.writePartition(spark, base, "tp", sample.filter($"p" === 1))
    val labels2 = Ktk.writePartition(spark, base, "tp", sample.filter($"p" =!= 1))
    labels1 should not be empty
    labels2 should not be empty
    Ktk.readTable(spark, base, "tp").count() shouldBe 0

    // one commit publishes both + builds the registered index and zone map
    Ktk.commit(spark, base, "tp", labels1 ++ labels2)
    val back = Ktk.readTable(spark, base, "tp")
    back.count() shouldBe 5
    // the committed index actually prunes
    val viaIdx = Ktk.readTable(spark, base, "tp",
      predicates = graft.core.Predicates.of(Seq(("tag", "==", "z"))))
    viaIdx.select("l").as[String].collect().toSeq shouldBe Seq("c")
    // zone map registered at createEmpty is filled at commit and prunes
    val mdZ = DatasetMetadata.load(spark, base, "tp")
    Ktk.zoneMapOf(spark, base, mdZ, "target").size shouldBe mdZ.partitions.size
    Ktk.readTable(spark, base, "tp",
      predicates = graft.core.Predicates.of(Seq(("target", ">=", 40.0))))
      .select("l").as[String].collect().sorted.toSeq shouldBe Seq("b", "c")

    // a second round: new partition + delete scope in the same commit
    val labels3 = Ktk.writePartition(spark, base, "tp",
      Seq((1, "e", 60.0, "w")).toDF("p", "l", "target", "tag"))
    Ktk.commit(spark, base, "tp", labels3,
      deleteScope = graft.core.Predicates.of(Seq(("p", "==", 2))))
    val after = Ktk.readTable(spark, base, "tp")
    after.select("l").as[String].collect().sorted.toSeq shouldBe Seq("a", "b", "b", "e")
    // index merged: old p=2 labels gone, new w value present
    Ktk.readTable(spark, base, "tp",
      predicates = graft.core.Predicates.of(Seq(("tag", "==", "w"))))
      .select("l").as[String].collect().toSeq shouldBe Seq("e")
    Ktk.readTable(spark, base, "tp",
      predicates = graft.core.Predicates.of(Seq(("tag", "==", "z")))).count() shouldBe 0
  }

  test("zone maps prune files by min/max range; results stay exact") {
    val base = tmpDir("ktk")
    // two partitions, values cluster per partition so ranges are disjoint
    val data = Seq(
      (1, 10.0, "a"), (1, 20.0, "b"), (2, 100.0, "c"), (2, 200.0, "d")
    ).toDF("p", "x", "l")
    val md = Ktk.store(spark, base, "zm", data, partitionOn = Seq("p"),
      zoneMapFor = Seq("x"))
    Ktk.zoneMapOf(spark, base, md, "x").size shouldBe md.partitions.size
    // x > 50 excludes every p=1 file via its range — without the partition
    // key appearing in the predicate at all
    val labels = Ktk.queryLabels(spark, base, md,
      graft.core.Predicates.of(Seq(("x", ">", 50.0))))
    labels.forall(_.startsWith("p=2/")) shouldBe true
    Ktk.readTable(spark, base, "zm",
      predicates = graft.core.Predicates.of(Seq(("x", ">", 50.0))))
      .select("l").as[String].collect().sorted.toSeq shouldBe Seq("c", "d")
    // == inside a pruned range still answers exactly
    Ktk.readTable(spark, base, "zm",
      predicates = graft.core.Predicates.of(Seq(("x", "==", 20.0))))
      .select("l").as[String].collect().toSeq shouldBe Seq("b")
    // update: appended files get fresh ranges, zone pruning stays correct
    Ktk.update(spark, base, "zm", Some(Seq((3, 500.0, "e")).toDF("p", "x", "l")))
    val md2 = DatasetMetadata.load(spark, base, "zm")
    Ktk.zoneMapOf(spark, base, md2, "x").size shouldBe md2.partitions.size
    Ktk.readTable(spark, base, "zm",
      predicates = graft.core.Predicates.of(Seq(("x", ">=", 500.0))))
      .select("l").as[String].collect().toSeq shouldBe Seq("e")
    // null semantics: a column with nulls never loses null rows to pruning
    val withNull = Seq((1, Option(1.0), "a"), (2, Option.empty[Double], "b")).toDF("p", "x", "l")
    Ktk.store(spark, base, "zmn", withNull, partitionOn = Seq("p"), zoneMapFor = Seq("x"))
    Ktk.readTable(spark, base, "zmn",
      predicates = graft.core.Predicates.of(Seq(("x", "==", null))))
      .select("l").as[String].collect().toSeq shouldBe Seq("b")
  }

  test("null partition values rejected") {
    val base = tmpDir("ktk")
    val bad = Seq((Some(1), "a"), (None, "b")).toDF("p", "v")
    an[IllegalArgumentException] should be thrownBy
      Ktk.store(spark, base, "bad", bad, partitionOn = Seq("p"))
  }

  test("two-phase writePartition(sortBy) keeps the order inside each file of a partitioned dataset") {
    import org.apache.spark.sql.expressions.Window
    val base = tmpDir("tpsort")
    val rows = spark.range(0, 3000).selectExpr(
      "id % 7 AS p", "(id * 2654435761) % 100000 AS k", "id AS v")
    Ktk.createEmpty(spark, base, "srt", rows.schema, partitionOn = Seq("p"))
    val labels = Ktk.writePartition(spark, base, "srt", rows.repartition(3), sortBy = Seq("k"))
    val md = Ktk.commit(spark, base, "srt", labels)
    // every written file is sorted on k
    val tableDir = md.tableDir(base)
    val scanned = spark.read.option("basePath", tableDir)
      .parquet(labels.map(l => s"$tableDir/$l"): _*)
      .select(col("k"), col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("i"))
    val w = Window.partitionBy("f").orderBy("i")
    scanned.withColumn("prev", lag("k", 1).over(w))
      .filter(col("prev") > col("k")).count() shouldBe 0
  }

  test("update: append + delete_scope in one commit; index maintained") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"), secondaryIndices = Seq("tag"))
    val extra = Seq((4, "d", 60.0, "w"), (1, "e", 70.0, "x")).toDF("p", "l", "target", "tag")
    Ktk.update(spark, base, "ds", Some(extra), deleteScope = Predicates.of(Seq(("p", "==", 2))))
    val back = Ktk.readTable(spark, base, "ds")
    back.select("l").as[String].collect().sorted.toSeq shouldBe Seq("a", "b", "b", "d", "e")
    // index reflects the post-update state
    val viaIdx = Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("tag", "==", "x"))))
    viaIdx.select("l").as[String].collect().sorted.toSeq shouldBe Seq("a", "e")
    val gone = Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("tag", "==", "z"))))
    gone.count() shouldBe 0
  }

  test("update never resurrects unreferenced files left on disk") {
    import spark.implicits._
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "rz", (1 to 8).map(i => (i % 2, i.toLong)).toDF("p", "k"),
      partitionOn = Seq("p"))
    // delete p=0 from metadata but NOT from disk (no gc): leftovers remain
    Ktk.update(spark, base, "rz", None, deleteScope = Predicates.of(Seq(("p", "==", 0))))
    Ktk.readTable(spark, base, "rz").count() shouldBe 4
    // a later append must not re-adopt the dead p=0 files as new labels
    Ktk.update(spark, base, "rz", Some(Seq((1, 100L)).toDF("p", "k")))
    Ktk.readTable(spark, base, "rz").count() shouldBe 5
    Ktk.readTable(spark, base, "rz").filter($"p" === 0).count() shouldBe 0
  }

  test("dynamicPartitionOverwrite swaps only the batch's partition tuples (multi-key)") {
    import spark.implicits._
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "dyn",
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 1L, 30.0), ("b", 2L, 40.0))
        .toDF("p", "q", "v"),
      partitionOn = Seq("p", "q")) // 4 partition tuples
    val files0 = DatasetMetadata.load(spark, base, "dyn").partitions.keySet
    // batch lands in (a,2) and (b,1) only: the other two tuples survive
    Ktk.update(spark, base, "dyn",
      Some(Seq(("a", 2L, 200.0), ("b", 1L, 300.0)).toDF("p", "q", "v")),
      dynamicPartitionOverwrite = true)
    Ktk.readTable(spark, base, "dyn").select("p", "q", "v")
      .as[(String, Long, Double)].collect().sorted.toSeq shouldBe Seq(
      ("a", 1L, 10.0), ("a", 2L, 200.0), ("b", 1L, 300.0), ("b", 2L, 40.0))
    val md = DatasetMetadata.load(spark, base, "dyn")
    // untouched tuples keep their ORIGINAL files; ONE commit
    files0.filter(l => l.contains("p=a/q=1") || l.contains("p=b/q=2"))
      .subsetOf(md.partitions.keySet) shouldBe true
    md.version shouldBe 2L
    // guards: needs data and no competing scope
    intercept[IllegalArgumentException] {
      Ktk.update(spark, base, "dyn", None, dynamicPartitionOverwrite = true)
    }
    intercept[IllegalArgumentException] {
      Ktk.update(spark, base, "dyn", Some(Seq(("a", 1L, 1.0)).toDF("p", "q", "v")),
        dynamicPartitionOverwrite = true, replaceAll = true)
    }
    // unpartitioned dataset: dynamic degenerates to a full versioned replace
    Ktk.store(spark, base, "dyn0", Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    Ktk.update(spark, base, "dyn0", Some(Seq((9L, 9.0)).toDF("k", "v")),
      dynamicPartitionOverwrite = true)
    Ktk.readTable(spark, base, "dyn0").select("k").as[Long].collect().toSeq shouldBe Seq(9L)
    Ktk.readTableAsOf(spark, base, "dyn0", 1L).count() shouldBe 2L
  }

  test("gc removes unreferenced files only") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    Ktk.update(spark, base, "ds", None, deleteScope = Predicates.of(Seq(("p", "==", 2))))
    val deleted = Ktk.garbageCollect(spark, base, "ds")
    deleted.nonEmpty shouldBe true
    // data files reclaimed: only the delete-scoped partition; the remaining
    // entries are pruned history snapshots (default retention keeps none)
    val (snapshots, files) = deleted.partition(_.contains("/_versions/"))
    files.nonEmpty shouldBe true
    files.forall(_.contains("p=2")) shouldBe true
    snapshots.foreach(_ should include(".json"))
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
  }

  test("schema validation: incompatible append rejected, all-null compatible") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    val wrong = Seq((9, "x", "not-a-double", "t")).toDF("p", "l", "target", "tag")
    an[IllegalArgumentException] should be thrownBy
      Ktk.update(spark, base, "ds", Some(wrong))
    // all-null column is compatible with any concrete type
    val ref = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val nul = StructType(Seq(StructField("a", LongType), StructField("b", NullType)))
    noException should be thrownBy SchemaUtil.validateCompatible(ref, nul)
    SchemaUtil.mergeSchemas(nul, ref)("b").dataType shouldBe StringType
  }

  test("copy + delete + list") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    Ktk.copyDataset(spark, base, "ds", "ds2")
    DatasetMetadata.listDatasets(spark, base) shouldBe Seq("ds", "ds2")
    Ktk.readTable(spark, base, "ds2").count() shouldBe 5
    DatasetMetadata.delete(spark, base, "ds")
    DatasetMetadata.listDatasets(spark, base) shouldBe Seq("ds2")
  }

  test("parquet footer stats") {
    val base = tmpDir("ktk")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    val stats = Ktk.parquetStats(spark, base, "ds")
    stats.agg(sum("rows")).head.getLong(0) shouldBe 5
  }

  test("parquet footer stats sample the file list with frac (deterministic)") {
    // ≙ collect_dataset_metadata(frac=…), io/dask/dataframe.py:491-574:
    // the sample is drawn from the LABEL LIST before any footer is read
    val base = tmpDir("ktk")
    val df = (0 until 64).map(i => (i.toLong, s"p${i % 8}", i * 1.0)).toDF("k", "p", "v")
    Ktk.store(spark, base, "ds", df.repartition(8, col("p")), partitionOn = Seq("p"))
    val total = DatasetMetadata.load(spark, base, "ds").partitions.size
    total should be >= 8
    val half = Ktk.parquetStats(spark, base, "ds", frac = 0.5)
    half.count() shouldBe math.round(0.5 * total)
    // deterministic: same seed → same files; different seed may differ
    Ktk.parquetStats(spark, base, "ds", frac = 0.5).select("file").collect().toSeq shouldBe
      half.select("file").collect().toSeq
    // a tiny frac still reads at least one footer; frac outside (0,1] rejects
    Ktk.parquetStats(spark, base, "ds", frac = 0.001).count() shouldBe 1
    intercept[IllegalArgumentException] { Ktk.parquetStats(spark, base, "ds", frac = 0.0) }
    intercept[IllegalArgumentException] { Ktk.parquetStats(spark, base, "ds", frac = 1.5) }
  }
}
