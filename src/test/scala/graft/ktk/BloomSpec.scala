package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Per-file Bloom sidecar: build at store, prune equality/IN predicates in
  * queryLabels, stay conservative for unknown labels, merge incrementally on
  * update. (Data skipping beyond zone maps: high-cardinality equality where
  * min/max ranges are too wide to exclude anything.)
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  // 3 partitions × disjoint id ranges → an id equality predicate should
  // bloom-prune down to exactly one file
  private def sample = (0 until 300)
    .map(i => (i / 100, i.toLong * 7 + 1, s"v$i"))
    .toDF("p", "id", "payload")

  test("store(bloomFor) writes the sidecar and registers it") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample,
      partitionOn = Seq("p"), bloomFor = Seq("id"))
    md.bloomRegistry.keySet shouldBe Set("id")
    val fs = DatasetMetadata.fs(spark, base)
    fs.exists(new Path(md.bloomPath(base, "id"))) shouldBe true
    // one sidecar row per data file
    spark.read.parquet(md.bloomPath(base, "id")).count() shouldBe md.partitions.size
  }

  test("equality predicate bloom-prunes to the owning file, results exact") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, bloomFor = Seq("id"))
    md.partitionKeys shouldBe empty // no partition keys: only blooms can prune
    md.partitions.size should be > 1
    // id = 701 lives in the row (p=1, i=100); no partition/zone info exists
    val labels = Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("id", "==", 701L))))
    labels.size should be < md.partitions.size
    // an Int literal on the bigint column hashes through the column type —
    // same pruning as the Long literal
    Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("id", "==", 701)))) shouldBe labels
    val df = Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("id", "==", 701L))))
    df.select("payload").as[String].collect().toSeq shouldBe Seq("v100")
  }

  test("IN-list prunes to the union of owning files; null in list disables pruning") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, bloomFor = Seq("id"))
    val in = Ktk.queryLabels(spark, base, md,
      Predicates.of(Seq(("id", "in", Seq(1L, 2093L)))))
    in.size should be < md.partitions.size
    // a null in the IN list makes the literal non-prunable → all labels kept
    val withNull = Ktk.queryLabels(spark, base, md,
      Predicates.of(Seq(("id", "in", Seq(1L, null)))))
    withNull.size shouldBe md.partitions.size
  }

  test("absent value prunes every file but a full scan still agrees") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, bloomFor = Seq("id"))
    // ids are ≡1 mod 7; 3L is absent — bloom should drop (almost) all files
    val labels = Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("id", "==", 3L))))
    labels.size should be < md.partitions.size
    Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("id", "==", 3L))))
      .count() shouldBe 0
  }

  test("update merges the sidecar: old labels keep rows, new labels get fresh ones") {
    val base = tmpDir("bloom")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"), bloomFor = Seq("id"))
    val extra = Seq((9, 999999L, "fresh")).toDF("p", "id", "payload")
    val md1 = Ktk.update(spark, base, "ds", Some(extra))
    // sidecar now covers every live label (old merged + new built)
    val rows = spark.read.parquet(md1.bloomPath(base, "id"))
      .select("label").as[String].collect().toSet
    rows shouldBe md1.partitions.keySet
    // the fresh value is findable and prunes to its own file
    val labels = Ktk.queryLabels(spark, base, md1, Predicates.of(Seq(("id", "==", 999999L))))
    labels.forall(_.startsWith("p=9/")) shouldBe true
    Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("id", "==", 999999L))))
      .select("payload").as[String].collect().toSeq shouldBe Seq("fresh")
  }

  test("addBloom retrofits a sidecar onto an existing dataset") {
    val base = tmpDir("bloom")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"))
    val md = Ktk.addBloom(spark, base, "ds", "payload")
    md.bloomRegistry.keySet shouldBe Set("payload")
    val labels = Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("payload", "==", "v250"))))
    labels.forall(_.startsWith("p=2/")) shouldBe true
  }

  test("parquetBloomFor writes native row-group bloom filters into the files") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, parquetBloomFor = Seq("id"))
    val conf = spark.sessionState.newHadoopConf()
    val file = md.partitions.keys.head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(md.fileFor(base, file)), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val idCol = block.getColumns.asScala.find(_.getPath.toDotString == "id").get
      // a written bloom filter records a non-negative offset in the footer
      idCol.getBloomFilterOffset should be >= 0L
      reader.getBloomFilterDataReader(block).readBloomFilter(idCol) should not be null
    } finally reader.close()
    // reads with an Eq pushdown stay exact through the native filter
    Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("id", "==", 701L))))
      .select("payload").as[String].collect().toSeq shouldBe Seq("v100")
  }

  test("semiJoinRead prunes files via the bloom sidecar and matches a real semi join") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, bloomFor = Seq("id"))
    val probe = Seq(701L, 1401L, 701L).toDF("key") // dups + both in p-range 1
    val out = Ktk.semiJoinRead(spark, base, "ds", "id", probe)
    out.select("payload").as[String].collect().sorted.toSeq shouldBe Seq("v100", "v200")
    // file pruning really happened: only the owning files were scanned
    out.inputFiles.length should be < md.partitions.size
    // oversized key set falls back to the join path, same result
    val big = Ktk.semiJoinRead(spark, base, "ds", "id", probe, maxKeys = 1)
    big.select("payload").as[String].collect().sorted.toSeq shouldBe Seq("v100", "v200")
  }

  test("two-phase write builds registered blooms at commit; gc removes unregistered sidecars") {
    val base = tmpDir("bloom")
    val fs = DatasetMetadata.fs(spark, base)
    Ktk.createEmpty(spark, base, "tp", sample.schema, bloomFor = Seq("id"))
    val l1 = Ktk.writePartition(spark, base, "tp", sample.filter(col("id") < 1000L))
    val l2 = Ktk.writePartition(spark, base, "tp", sample.filter(col("id") >= 1000L))
    val md = Ktk.commit(spark, base, "tp", l1 ++ l2)
    fs.exists(new Path(md.bloomPath(base, "id"))) shouldBe true
    val labels = Ktk.queryLabels(spark, base, md, Predicates.of(Seq(("id", "==", 701L))))
    labels.size should be < md.partitions.size
    // a sidecar whose column was dropped from the registry is garbage
    val md2 = md.copy(blooms = Map.empty)
    DatasetMetadata.store(spark, base, md2)
    // grace 0: the test wants immediate reclamation (no concurrent writer)
    val deleted = Ktk.garbageCollect(spark, base, "tp", sidecarGraceMs = 0L)
    deleted.exists(_.contains("blooms/id.")) shouldBe true
  }

  test("probe filters executor-side: collected labels == matching labels only") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, bloomFor = Seq("id"))
    val lit = graft.core.PredLiteral("id", graft.core.PredOp.Eq, 701L)
    val survivors = Sidecars.Bloom.probe(spark, base, md, lit).get
    // the probe's return IS its driver transfer — it must be exactly the
    // matching set, a strict subset of the catalog, never all labels
    survivors should not be empty
    survivors.size should be < md.partitions.size
    survivors.subsetOf(md.partitions.keySet) shouldBe true
    // and queryLabels (no partition keys/zones here) agrees with it exactly
    Ktk.queryLabels(spark, base, md,
      Predicates.of(Seq(("id", "==", 701L)))).toSet shouldBe survivors
  }

  test("all-null file carries a null bloom: covered, skipped, results exact") {
    val base = tmpDir("bloom")
    Ktk.store(spark, base, "ds", sample, partitionOn = Seq("p"), bloomFor = Seq("id"))
    val extra = Seq((9, Option.empty[Long], "nullrow")).toDF("p", "id", "payload")
    val md1 = Ktk.update(spark, base, "ds", Some(extra))
    // coverage stays TOTAL: the all-null file has a row (null bloom)
    val side = spark.read.parquet(md1.bloomPath(base, "id"))
    side.select("label").as[String].collect().toSet shouldBe md1.partitions.keySet
    side.filter(col("bloom").isNull).count() shouldBe 1
    // a non-null equality skips the all-null file (it cannot match)...
    val labels = Ktk.queryLabels(spark, base, md1, Predicates.of(Seq(("id", "==", 701L))))
    labels.exists(_.startsWith("p=9/")) shouldBe false
    // ...while a null literal is not probe-eligible and keeps every file
    Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("id", "==", null))))
      .select("payload").as[String].collect().toSeq shouldBe Seq("nullrow")
  }

  test("string-typed probe hashes match the build side") {
    val base = tmpDir("bloom")
    val md = Ktk.store(spark, base, "ds", sample, bloomFor = Seq("payload"))
    val df = Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("payload", "==", "v42"))))
    df.select("id").as[Long].collect().toSeq shouldBe Seq(42L * 7 + 1)
  }

  test("driver-side literal hashes are bit-identical to Spark's xxhash64 for every type") {
    import org.apache.spark.sql.types._
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      LongType -> Seq(0L, -1L, Long.MaxValue, 7, "42"),
      IntegerType -> Seq(0, Int.MinValue, 7L, "13"),
      ShortType -> Seq(1, -300),
      ByteType -> Seq(1, -7),
      StringType -> Seq("", "v42", "\u00E9t\u00E9", "\uD83D\uDE00", 5),
      DateType -> Seq(java.sql.Date.valueOf("2021-02-01"), "1999-12-31"),
      TimestampType -> Seq(java.sql.Timestamp.valueOf("2021-02-01 12:34:56.789"), "2020-01-01 00:00:00"),
      DecimalType(10, 2) -> Seq(new java.math.BigDecimal("1.50"), 2, "-3.25"),
      DecimalType(38, 18) -> Seq(new java.math.BigDecimal("123.456")),
      DoubleType -> Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, 1.5, 2),
      FloatType -> Seq(Float.NaN, -0.0f, 1.5f),
      BooleanType -> Seq(true, false))
    cases.foreach { case (dt, vals) =>
      // the build side hashes stored values: a column of the sidecar's type
      val want = spark.range(1).select(vals.map(v => xxhash64(lit(v).cast(dt))): _*)
        .head().toSeq.map(_.asInstanceOf[Long])
      withClue(s"$dt: ") { Sidecars.Bloom.literalHashes(spark, dt, vals) shouldBe Some(want) }
    }
    // a failed or null cast cannot mirror the build side: no pruning
    Sidecars.Bloom.literalHashes(spark, LongType, Seq(1L, "abc")) shouldBe None
    Sidecars.Bloom.literalHashes(spark, LongType, Seq(null)) shouldBe None
    Sidecars.Bloom.literalHashes(spark, LongType, Seq.empty) shouldBe None
  }
}
