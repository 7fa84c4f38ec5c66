package graft.streaming

import graft.SparkSpec
import graft.ktk.{DatasetMetadata, Ktk, Sidecars}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class KtkSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("p", IntegerType), StructField("k", LongType),
    StructField("v", StringType)))

  test("streaming micro-batches land as atomic dataset commits") {
    val base = tmpDir("ktksink")
    Ktk.createEmpty(spark, base, "stream_ds", schema, partitionOn = Seq("p"),
      secondaryIndices = Seq("v"), bloomFor = Seq("k"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String)]
    val df = mem.toDF().toDF("p", "k", "v")
    val ckpt = tmpDir("ktksink-ckpt")

    mem.addData((0, 1L, "a"), (1, 2L, "b"))
    val q1 = KtkSink.writeStream(df, base, "stream_ds", ckpt)
    q1.awaitTermination()
    Ktk.readTable(spark, base, "stream_ds").count() shouldBe 2

    // second run over the same checkpoint: only the NEW batch commits
    mem.addData((0, 3L, "c"))
    val q2 = KtkSink.writeStream(df, base, "stream_ds", ckpt)
    q2.awaitTermination()
    val rows = Ktk.readTable(spark, base, "stream_ds")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    rows shouldBe Seq((1L, "a"), (2L, "b"), (3L, "c"))
    // index kept current across streaming commits
    import graft.core.Predicates
    Ktk.readTable(spark, base, "stream_ds",
      predicates = Predicates.of(Seq(("v", "==", "c")))).count() shouldBe 1
    // bloom sidecar merged incrementally on every streaming commit: it
    // covers all live labels and point lookups still resolve
    val md = DatasetMetadata.load(spark, base, "stream_ds")
    spark.read.parquet(md.bloomPath(base, "k"))
      .select("label").as[String].collect().toSet shouldBe md.partitions.keySet
    Ktk.readTable(spark, base, "stream_ds",
      predicates = Predicates.of(Seq(("k", "==", 3L)))).count() shouldBe 1
  }

  test("append-only sidecar commits cost O(batch) and compact re-canonicalizes") {
    import graft.core.Predicates
    val base = tmpDir("ktksink3")
    Ktk.createEmpty(spark, base, "ap", schema, partitionOn = Seq("p"),
      secondaryIndices = Seq("v"), bloomFor = Seq("k"))
    // three streaming-style commits, same indexed value "x" in each batch
    (0 to 2).foreach { b =>
      KtkSink.commitBatch(Seq((b, b.toLong, "x"), (b, 100L + b, s"u$b"))
        .toDF("p", "k", "v"), base, "ap", batchId = b)
    }
    val md = DatasetMetadata.load(spark, base, "ap")
    // "x" is spread over one row PER commit (append-only evidence)…
    Ktk.loadIndex(spark, base, md, "v").filter($"value" === "x").count() shouldBe 3
    // …while reads stay exact through the union semantics
    Ktk.readTable(spark, base, "ap",
      predicates = Predicates.of(Seq(("v", "==", "x")))).count() shouldBe 3
    Ktk.observedValues(spark, base, md, "v").count() shouldBe 4
    Ktk.readTable(spark, base, "ap",
      predicates = Predicates.of(Seq(("k", "==", 101L)))).count() shouldBe 1
    // compact canonicalizes: one index row per value again
    Ktk.compact(spark, base, "ap")
    val md2 = DatasetMetadata.load(spark, base, "ap")
    Ktk.loadIndex(spark, base, md2, "v").filter($"value" === "x").count() shouldBe 1
    Ktk.readTable(spark, base, "ap",
      predicates = Predicates.of(Seq(("v", "==", "x")))).count() shouldBe 3
  }

  test("compactEvery bounds the file count of a long-running stream") {
    val base = tmpDir("ktksink4")
    Ktk.createEmpty(spark, base, "cmp", schema, secondaryIndices = Seq("v"))
    // 6 batches of 4 files each, maintenance every 3rd commit
    (0 to 5).foreach { b =>
      val batch = Seq.tabulate(8)(i => (0, b * 100L + i, s"v$b-$i"))
        .toDF("p", "k", "v").repartition(4)
      KtkSink.commitBatch(batch, base, "cmp", batchId = b, compactEvery = 3)
    }
    val md = DatasetMetadata.load(spark, base, "cmp")
    // without maintenance: 24 files; per-seq compaction caps it at one file
    // per committed batch (seqs never merge — overlay semantics)
    md.partitions.size should be <= 8
    md.metadata("stream.commits_since_compact") shouldBe "0"
    Ktk.readTable(spark, base, "cmp").count() shouldBe 48
    // index canonical after the last maintenance pass: one row per value
    Ktk.loadIndex(spark, base, md, "v")
      .groupBy("value").count().filter($"count" > 1).count() shouldBe 0
  }

  test("fragment bound re-canonicalizes sidecars independent of compactEvery") {
    val base = tmpDir("ktksink5")
    Ktk.createEmpty(spark, base, "frag", schema,
      secondaryIndices = Seq("v"), bloomFor = Seq("k"), zoneMapFor = Seq("k"))
    def commit(b: Int): Unit = {
      val batch = Seq.tabulate(4)(i => (0, b * 100L + i, s"v$b-$i")).toDF("p", "k", "v")
      KtkSink.commitBatch(batch, base, "frag", batchId = b, compactEvery = 0)
    }
    commit(0)
    // fill every sidecar dir to the bound: copies of its part file stand in
    // for the appends of earlier batches (duplicate rows are harmless —
    // probes take the union of a dir's rows)
    val md0 = DatasetMetadata.load(spark, base, "frag")
    val fs = DatasetMetadata.fs(spark, base)
    Sidecars.kinds.foreach(k => k.registry(md0).keys.foreach { c =>
      val dir = new Path(k.path(base, md0, c))
      val part = fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-")).head
      (Sidecars.partFiles(fs, dir).get until Sidecars.MaxFragments).foreach { j =>
        FileUtil.copy(fs, part, fs, new Path(dir, s"part-fill-$j.parquet"), false,
          spark.sparkContext.hadoopConfiguration)
      }
    })
    Ktk.sidecarFragments(spark, base, "frag") shouldBe Sidecars.MaxFragments
    // compactEvery off; the fragment bound alone must bound sidecar fan-in
    (1 to 9).foreach { b =>
      val v = DatasetMetadata.load(spark, base, "frag").version
      commit(b)
      // the batch's own commit folds a full dir: one commit per batch, and
      // the observable post-commit count never exceeds the bound
      DatasetMetadata.load(spark, base, "frag").version shouldBe v + 1
      Ktk.sidecarFragments(spark, base, "frag") should be <= Sidecars.MaxFragments
      if (b == 1) Ktk.sidecarFragments(spark, base, "frag") should be <= Sidecars.CanonicalFiles
    }
    // reads stay exact over canonicalized sidecars
    Ktk.readTable(spark, base, "frag").count() shouldBe 40
    import graft.core.Predicates
    Ktk.readTable(spark, base, "frag",
      predicates = Predicates.of(Seq(("v", "==", "v7-2")))).count() shouldBe 1
    Ktk.readTable(spark, base, "frag",
      predicates = Predicates.of(Seq(("k", "==", 503L)))).count() shouldBe 1
    // index canonical: one row per value
    val md = DatasetMetadata.load(spark, base, "frag")
    Ktk.loadIndex(spark, base, md, "v")
      .groupBy("value").count().filter($"count" > 1).count() shouldBe 0
  }

  test("upsert sink maintains latest-state-per-key; replays skipped") {
    val base = tmpDir("ktksink-up")
    Ktk.createEmpty(spark, base, "mirror", schema, partitionOn = Seq("p"))
    // batch 0: two inserts
    KtkSink.commitBatchUpsert(Seq((0, 1L, "a"), (0, 2L, "b")).toDF("p", "k", "v"),
      base, "mirror", batchId = 0, keys = Seq("k"))
    // batch 1: update k=2, insert k=3
    KtkSink.commitBatchUpsert(Seq((0, 2L, "b2"), (1, 3L, "c")).toDF("p", "k", "v"),
      base, "mirror", batchId = 1, keys = Seq("k"))
    def state() = Ktk.readTable(spark, base, "mirror")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    state() shouldBe Seq((1L, "a"), (2L, "b2"), (3L, "c"))
    // an at-least-once REPLAY of batch 1 must not upsert twice
    val v = DatasetMetadata.load(spark, base, "mirror").version
    KtkSink.commitBatchUpsert(Seq((0, 2L, "b2"), (1, 3L, "c")).toDF("p", "k", "v"),
      base, "mirror", batchId = 1, keys = Seq("k"))
    DatasetMetadata.load(spark, base, "mirror").version shouldBe v
    state() shouldBe Seq((1L, "a"), (2L, "b2"), (3L, "c"))
    // inline compaction (cadence hit) ALSO materializes the tombstones
    KtkSink.commitBatchUpsert(Seq((0, 1L, "a3")).toDF("p", "k", "v"),
      base, "mirror", batchId = 2, keys = Seq("k"), compactEvery = 1)
    state() shouldBe Seq((1L, "a3"), (2L, "b2"), (3L, "c"))
    DatasetMetadata.load(spark, base, "mirror").deleteFragments shouldBe empty
  }

  test("CDC batches with delete markers maintain a full mirror") {
    val base = tmpDir("ktksink-cdc")
    Ktk.createEmpty(spark, base, "cdc", schema, partitionOn = Seq("p"))
    def batch(rows: (Int, Long, String, String)*) =
      rows.toSeq.toDF("p", "k", "v", "op")
    KtkSink.commitBatchUpsert(batch((0, 1L, "a", "I"), (0, 2L, "b", "I")),
      base, "cdc", batchId = 0, keys = Seq("k"), opCol = Some("op"))
    // update k=1, delete k=2, insert k=3, delete of ABSENT key 9 = no-op
    KtkSink.commitBatchUpsert(
      batch((0, 1L, "a2", "U"), (0, 2L, "", "D"), (1, 3L, "c", "I"), (0, 9L, "", "D")),
      base, "cdc", batchId = 1, keys = Seq("k"), opCol = Some("op"))
    Ktk.readTable(spark, base, "cdc")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, "a2"), (3L, "c"))
    // pure-delete batch (no upserts at all)
    KtkSink.commitBatchUpsert(batch((0, 1L, "", "D")),
      base, "cdc", batchId = 2, keys = Seq("k"), opCol = Some("op"))
    Ktk.readTable(spark, base, "cdc")
      .select("k", "v").as[(Long, String)].collect().toSeq shouldBe Seq((3L, "c"))
  }

  test("upsertStream end-to-end over MemoryStream micro-batches") {
    val base = tmpDir("ktksink-ups")
    Ktk.createEmpty(spark, base, "mirror2", schema, partitionOn = Seq("p"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String)]
    val df = mem.toDF().toDF("p", "k", "v")
    val ckpt = tmpDir("ktksink-ups-ckpt")
    mem.addData((0, 1L, "a"), (0, 2L, "b"))
    val q1 = KtkSink.upsertStream(df, base, "mirror2", ckpt, keys = Seq("k"))
    q1.awaitTermination()
    mem.addData((0, 2L, "b2"), (1, 3L, "c"))
    val q2 = KtkSink.upsertStream(df, base, "mirror2", ckpt, keys = Seq("k"))
    q2.awaitTermination()
    Ktk.readTable(spark, base, "mirror2")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, "a"), (2L, "b2"), (3L, "c"))
  }

  test("a replayed batch id is committed exactly once") {
    val base = tmpDir("ktksink2")
    Ktk.createEmpty(spark, base, "ds", schema, partitionOn = Seq("p"))
    val batch = Seq((0, 1L, "x"), (1, 2L, "y")).toDF("p", "k", "v")
    KtkSink.commitBatch(batch, base, "ds", batchId = 0)
    // crash-replay: same batch id arrives again (checkpoint not advanced)
    KtkSink.commitBatch(batch, base, "ds", batchId = 0)
    Ktk.readTable(spark, base, "ds").count() shouldBe 2
    // next batch id commits normally
    KtkSink.commitBatch(Seq((0, 3L, "z")).toDF("p", "k", "v"), base, "ds", batchId = 1)
    Ktk.readTable(spark, base, "ds").count() shouldBe 3
    DatasetMetadata.load(spark, base, "ds").metadata("stream.last_batch_id") shouldBe "1"
  }

  test("collapseByVersion: final image per key; insert beats same-version delete") {
    val batch = Seq(
      // k=1: inserted v1, deleted v2 -> final = delete
      (1L, "a", "insert", 1L), (1L, "a", "delete", 2L),
      // k=2: merge image at v3 (delete old + insert new) -> final = insert b2
      (2L, "b", "insert", 1L), (2L, "b", "delete", 3L), (2L, "b2", "insert", 3L),
      // k=3: plain insert
      (3L, "c", "insert", 2L)
    ).toDF("k", "v", "op", "ver")
    val out = KtkSink.collapseByVersion(batch, Seq("k"), "ver",
      opCol = Some("op"), deleteOp = "delete")
    out.columns should not contain "ver" // version column is consumed
    out.select("k", "v", "op").as[(Long, String, String)].collect().toSet shouldBe
      Set((1L, "a", "delete"), (2L, "b2", "insert"), (3L, "c", "insert"))
    // without opCol: plain latest-per-key
    val out2 = KtkSink.collapseByVersion(batch.drop("op")
      .groupBy("k", "v").agg(max("ver").as("ver")), Seq("k"), "ver", None, "D")
    out2.count() shouldBe 3
  }

  test("commitBatchDeduped: first occurrence wins across batches, runs, and replays") {
    val base = tmpDir("ktkdedup")
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("content_hash", LongType)))
    Ktk.createEmpty(spark, base, "corpus", sch)
    def commit(b: Long, rows: (Long, String)*): Unit =
      KtkSink.commitBatchDeduped(rows.toDF("doc_id", "text"), base, "corpus",
        "doc_id", "text", batchId = b)
    // batch 0: intra-batch dup (1,5 same text) -> least id survives;
    // normalization folds case/whitespace (2 vs the later "  ALPHA two  ")
    commit(0L, (1L, "alpha one"), (5L, "alpha one"), (2L, "alpha two"))
    Ktk.readTable(spark, base, "corpus").select("doc_id")
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
    // batch 1: cross-batch dup (10="alpha one", 11 normalizes to "alpha two")
    // drops; fresh 12 admits
    commit(1L, (10L, "alpha one"), (11L, "  ALPHA two  "), (12L, "gamma three"))
    Ktk.readTable(spark, base, "corpus").select("doc_id")
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 12L)
    // crash replay of batch 1 (guard fires before the probe): no change
    commit(1L, (10L, "alpha one"), (11L, "ALPHA two"), (12L, "gamma three"))
    Ktk.readTable(spark, base, "corpus").count() shouldBe 3
    // a fully-duplicate batch commits nothing but still advances the mark
    commit(2L, (20L, "alpha one"), (21L, "gamma three"))
    Ktk.readTable(spark, base, "corpus").count() shouldBe 3
    DatasetMetadata.load(spark, base, "corpus")
      .metadata("stream.last_batch_id") shouldBe "2"
    // the persisted hash column IS the dedup history: it matches a
    // recomputation from the surviving text (the cross-run contract)
    val mism = Ktk.readTable(spark, base, "corpus")
      .filter(col("content_hash") =!= StreamDedup.contentKey(col("text")))
      .count()
    mism shouldBe 0L
    // programmatic callers share the dataset-global batch key, so a batch
    // id BELOW the mark is a replay by definition and must no-op (live
    // streaming queries get query-scoped keys via batchKeyFor instead)
    commit(0L, (30L, "delta four"))
    Ktk.readTable(spark, base, "corpus").count() shouldBe 3
    // later run continues the id line: history still holds across runs
    commit(3L, (30L, "alpha one"), (31L, "delta four"))
    Ktk.readTable(spark, base, "corpus").select("doc_id")
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 12L, 31L)
  }

  test("commitBatchNearDeduped: near-dup first occurrence across waves; stamp survives; no cache leaks") {
    val base = tmpDir("ktkneardedup")
    // pairwise-DISTINCT bodies (a shared template with one varying token
    // is itself a near-dup at this threshold — the operator is right to
    // collapse it)
    val bodies = Map(
      0 -> ("the quick brown fox jumps over the lazy dog wearing a hat " * 5),
      1 -> ("completely different content with unrelated words entirely here " * 5),
      7 -> ("another orthogonal document about streaming ingestion pipelines " * 5))
    def doc(i: Int) = bodies(i)
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("sig", BinaryType),
      StructField("bands", ArrayType(LongType))))
    Ktk.createEmpty(spark, base, "near", sch)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def commit(b: Long, rows: (Long, String)*): Unit =
      KtkSink.commitBatchNearDeduped(rows.toDF("doc_id", "text"), base, "near",
        "doc_id", "text", batchId = b, threshold = 0.6)
    def ids(): Seq[Long] = Ktk.readTable(spark, base, "near").select("doc_id")
      .as[Long].collect().sorted.toSeq
    // wave 0: 1 and 5 are NEAR copies (5-char prefix) -> least id survives
    // the greedy star; 2 is distinct
    commit(0L, (1L, doc(0)), (5L, "xqzy " + doc(0)), (2L, doc(1)))
    ids() shouldBe Seq(1L, 2L)
    // wave 1: 10 is a near copy of ingested doc(0) (drops via the history
    // probe), 11 an EXACT copy of doc(1) (overlap 1.0 — near-dedup
    // subsumes exact), 12 fresh
    commit(1L, (10L, "abqr " + doc(0)), (11L, doc(1)), (12L, doc(7)))
    ids() shouldBe Seq(1L, 2L, 12L)
    // crash replay of wave 1: the guard fires before the signature pass
    commit(1L, (10L, "abqr " + doc(0)), (11L, doc(1)), (12L, doc(7)))
    ids() shouldBe Seq(1L, 2L, 12L)
    // a fully-near-duplicate wave commits nothing but advances the mark
    commit(2L, (20L, "zzzw " + doc(7)))
    ids() shouldBe Seq(1L, 2L, 12L)
    DatasetMetadata.load(spark, base, "near")
      .metadata("stream.last_batch_id") shouldBe "2"
    // the persisted signatures ARE the near-dup history: they match a
    // recomputation from the surviving text (the cross-run contract)
    val persisted = Ktk.readTable(spark, base, "near")
    val recomputed = graft.ops.Dedup.minhashSignatures(
      persisted.select("doc_id", "text"), "doc_id", "text")
    persisted.select(col("doc_id").as("id"), col("sig"), col("bands"))
      .exceptAll(recomputed).count() shouldBe 0L
    // the parameters are recorded in the dataset's metadata by the first
    // admitting commit: a probe with different banding refuses loudly
    // instead of silently losing recall
    val e = intercept[IllegalArgumentException] {
      commitOther(base, bands = 16)
    }
    e.getMessage should include("mismatch")
    // nothing of ours lingers in executor memory after the sink calls
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  private def commitOther(base: String, bands: Int): Unit = {
    import spark.implicits._
    KtkSink.commitBatchNearDeduped(
      Seq((100L, "some fresh text for the mismatch probe " * 5)).toDF("doc_id", "text"),
      base, "near", "doc_id", "text", batchId = 9L, bands = bands)
  }
}
