package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-run incremental dedup: a new ingest batch filtered against the
  * already-ingested corpus through a broadcast Bloom sketch + exact
  * broadcast confirm — per-batch cost O(batch + one history hash scan),
  * history never shuffles.
  */
class DedupIncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("exactAgainstHistory keeps exactly the content not already ingested") {
    val history = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val batch = Seq((10L, "beta"), (11L, "delta"), (12L, "delta"), (13L, "ALPHA"))
      .toDF("doc_id", "text")
    val out = Dedup.exactAgainstHistory(batch, history, "text")
    // beta dropped (already ingested); both deltas kept (intra-batch dedup
    // is exactByHash's job, documented); ALPHA kept (hash-exact, case
    // differs from history's alpha)
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(11L, 12L, 13L)
    // the helper hash column never leaks into the result
    out.columns.toSeq shouldBe Seq("doc_id", "text")
    // empty history: everything passes
    Dedup.exactAgainstHistory(batch, history.filter(lit(false)), "text")
      .count() shouldBe 4
    // full-overlap batch: nothing passes
    Dedup.exactAgainstHistory(
      Seq((20L, "alpha"), (21L, "gamma")).toDF("doc_id", "text"), history, "text")
      .count() shouldBe 0
  }

  test("minhashAgainstHistory drops near-copies of ingested docs, keeps fresh ones") {
    def doc(i: Int) =
      s"the quick brown fox $i jumps over the lazy dog wearing hat $i " * 5
    val history = (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(history, "doc_id", "text")
    val nearCopies = (0 until 10).map(i => (1000L + i, "xqzy " + doc(i)))
    val fresh = (0 until 10).map(i =>
      (2000L + i, s"completely different content number $i with unrelated words entirely " * 5))
    val batch = (nearCopies ++ fresh).toDF("doc_id", "text")
    val out = Dedup.minhashAgainstHistory(batch, "doc_id", "text", sigs, threshold = 0.6)
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe (2000L until 2010L)
    // the signature table is the PERSISTED artifact: parquet roundtrip
    // gives identical decisions (the continuous-ingest contract)
    val p = tmpDir("sigs")
    sigs.write.parquet(s"$p/t")
    val loaded = spark.read.parquet(s"$p/t")
    Dedup.minhashAgainstHistory(batch, "doc_id", "text", loaded, threshold = 0.6)
      .select("doc_id").as[Long].collect().sorted.toSeq shouldBe (2000L until 2010L)
    // over-cap buckets are skipped AND counted, never silent
    val acc = spark.sparkContext.longAccumulator("skipped")
    val capped = Dedup.minhashAgainstHistory(batch, "doc_id", "text", sigs,
      threshold = 0.6, maxBucket = 0, skippedBuckets = Some(acc))
    capped.count() shouldBe 20 // nothing verified: every bucket skipped
    acc.value.toLong should be > 0L
  }

  test("minhashAgainstHistory rejects a parameter-mismatched signature table loudly") {
    def doc(i: Int) = s"some reasonably long document body number $i with words " * 4
    val history = (0 until 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(history, "doc_id", "text") // defaults: 5/128/32
    val batch = Seq((100L, doc(0))).toDF("doc_id", "text")
    // the stamp survives the PERSISTED form too (schema metadata rides the
    // parquet footer) — validate through a roundtrip, the real-world shape
    val p = tmpDir("sigparams")
    sigs.write.parquet(s"$p/t")
    val loaded = spark.read.parquet(s"$p/t")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashAgainstHistory(batch, "doc_id", "text", loaded,
        threshold = 0.6, bands = 16)
    }
    e.getMessage should include("parameter mismatch")
    e.getMessage should include("bands=32")
    // matching parameters (the defaults) pass validation and drop the dup
    Dedup.minhashAgainstHistory(batch, "doc_id", "text", loaded, threshold = 0.6)
      .count() shouldBe 0
    // an UNSTAMPED table is treated as kernel v1 and REFUSED by default —
    // every pre-stamp table IS v1, exactly the population a kernel bump
    // endangers (r15 ADVICE medium)
    val stripped = spark.createDataFrame(loaded.rdd,
      org.apache.spark.sql.types.StructType(loaded.schema.map(_.copy(
        metadata = org.apache.spark.sql.types.Metadata.empty))))
    val eu = intercept[IllegalArgumentException] {
      Dedup.minhashAgainstHistory(batch, "doc_id", "text", stripped,
        threshold = 0.6, bands = 16)
    }
    eu.getMessage should include("unstamped")
    // the explicit opt-out exists for genuinely foreign tables whose
    // builder is KNOWN to match this hash family — caller's contract
    spark.conf.set("spark.graft.dedup.allowUnstampedSignatures", "true")
    try {
      Dedup.minhashAgainstHistory(batch, "doc_id", "text", stripped,
        threshold = 0.6, bands = 16).count() shouldBe 1 // different banding, no collision
    } finally spark.conf.unset("spark.graft.dedup.allowUnstampedSignatures")
    // a table stamped by an OLDER kernel (params present, kernel key from
    // v1) must refuse: equal parameters hash differently across kernels
    val v1meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.shingleK", 5L)
      .putLong("graft.minhash.numHashes", 128L)
      .putLong("graft.minhash.bands", 32L) // no kernel key = v1
      .build()
    val v1table = spark.createDataFrame(loaded.rdd,
      org.apache.spark.sql.types.StructType(loaded.schema.map(f =>
        if (f.name == "sig") f.copy(metadata = v1meta) else f)))
    val ek = intercept[IllegalArgumentException] {
      Dedup.minhashAgainstHistory(batch, "doc_id", "text", v1table, threshold = 0.6)
    }
    ek.getMessage should include("kernel mismatch")
    ek.getMessage should include("v1")
  }

  test("minhash history probe: broadcast below the key budget, shuffle above it") {
    def doc(i: Int) = s"the quick brown fox $i jumps over the lazy dog wearing hat $i " * 5
    val history = (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(history, "doc_id", "text")
    val batch = ((0 until 5).map(i => (1000L + i, "xqzy " + doc(i))) ++
      (0 until 5).map(i => (2000L + i, s"fresh unrelated content $i entirely new words " * 5)))
      .toDF("doc_id", "text")
    val conf = spark.conf
    val savedAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val savedAuto = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    // pin the EXPLICIT hint behavior: no auto-broadcast, no AQE re-planning,
    // so the plan shape is exactly what the operator asked for
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // below budget (10 docs × 32 bands = 320 keys << 4M): the
      // three key-sized sides (bandKeys, keptBuckets, matched) ride their
      // broadcast hints; the ONE sort-merge is the signature-verification
      // join against batchBanded, which is unhinted BY DESIGN (batch sigs
      // are sig-payload-sized, not key-sized — broadcasting them is the
      // OOM shape the budget exists to prevent)
      def countOf(plan: String, op: String) = op.r.findAllIn(plan).size
      val under = Dedup.minhashAgainstHistory(batch, "doc_id", "text", sigs, threshold = 0.6)
      val underPlan = under.queryExecution.executedPlan.toString
      // 4 = bandKeys (the histCand subtree prints under BOTH the
      // keptBuckets branch and the verification branch) + keptBuckets +
      // matched
      countOf(underPlan, "BroadcastHashJoin") shouldBe 4
      countOf(underPlan, "SortMergeJoin") shouldBe 1
      under.select("doc_id").as[Long].collect().sorted.toSeq shouldBe (2000L until 2005L)
      // above budget (a batch sized at 1M docs × 32 bands = 32M keys):
      // hints drop, the (band, bucket) semi-join shuffles — the shape that
      // survives a 10M-doc batch instead of OOMing on a multi-GB broadcast
      val over = Dedup.minhashAgainstHistory(batch, "doc_id", "text", sigs, threshold = 0.6,
        expectedBatchItems = 1000000L)
      val overPlan = over.queryExecution.executedPlan.toString
      countOf(overPlan, "BroadcastHashJoin") shouldBe 0
      countOf(overPlan, "SortMergeJoin") should be >= 4
      // decisions are identical either way — the budget moves bytes, not answers
      over.select("doc_id").as[Long].collect().sorted.toSeq shouldBe (2000L until 2005L)
    } finally {
      conf.set("spark.sql.adaptive.enabled", savedAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedAuto)
    }
  }

  test("history never shuffles: broadcast joins only, no sort-merge") {
    val history = (0 until 5000).map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    val dupPart = (4000 until 4200).map(i => (100000L + i, s"doc body $i"))
    val freshPart = (0 until 50).map(i => (200000L + i, s"fresh body $i"))
    val batch = (dupPart ++ freshPart).toDF("doc_id", "text")
    val out = Dedup.exactAgainstHistory(batch, history, "text")
    out.count() shouldBe 50
    val plan = out.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
    (plan should not).include("ShuffledHashJoin")
  }
}
