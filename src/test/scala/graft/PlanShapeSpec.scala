package graft

import graft.core.Predicates
import graft.ktk.Ktk
import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the physical plans that make this engine
  * scale must not silently degrade. Asserting on executedPlan text keeps
  * pushdown/broadcast/codegen properties pinned.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base: String = {
    val b = tmpDir("plan")
    val df = (0 until 1000).map(i => (i % 4, i.toLong, i * 1.0, s"t${i % 7}"))
      .toDF("p", "k", "x", "tag")
    Ktk.store(spark, b, "ds", df, partitionOn = Seq("p"), secondaryIndices = Seq("tag"))
    b
  }

  test("ktk read pushes payload filter to parquet and prunes columns") {
    val df = Ktk.readTable(spark, base, "ds",
      columns = Seq("k", "x"),
      predicates = Predicates.of(Seq(("p", "==", 1), ("x", ">", 10.0))))
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(x), GreaterThan(x,10.0)")
    plan should include("ReadSchema: struct<k:bigint,x:double>")
    df.inputFiles.forall(_.contains("p=1")) shouldBe true
  }

  test("broadcast join is chosen for a small dimension side") {
    val big = (0 until 10000).map(i => (i.toLong % 100, i.toDouble)).toDF("k", "v")
    val dim = (0L until 100L).map(i => (i, s"d$i")).toDF("k", "name")
    val plan = big.join(broadcast(dim), Seq("k")).groupBy("name").count()
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("aggregation uses partial (map-side) combine") {
    val plan = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
      .queryExecution.executedPlan.toString
    // two HashAggregate nodes: partial + final
    "HashAggregate".r.findAllIn(plan).size should be >= 2
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val df = Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq(("x", ">", 100.0))))
    // `*(n)` prefixes mark WholeStageCodegen stages in the rendered plan
    df.queryExecution.executedPlan.toString should include regex """\*\(\d+\)"""
  }

  test("index pruning plan reads only index row groups for the literal") {
    // the index lookup itself must push the value filter into the index scan
    val md = graft.ktk.DatasetMetadata.load(spark, base, "ds")
    val idx = Ktk.loadIndex(spark, base, md, "tag").filter(col("value") === "t3")
    idx.queryExecution.executedPlan.toString should include("EqualTo(value,t3)")
  }

  test("IVF assignment is a narrow map: one Exchange total, broadcast probe join") {
    import graft.ops.Similarity
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i % 5 + d).toFloat))).toDF("id", "vec")
    val queries = (0 until 2).map(i =>
      (i.toLong + 1000, Array.tabulate(8)(d => (i + d).toFloat))).toDF("qid", "qvec")
    val index = Similarity.IvfIndex(
      Seq(0 -> Seq.fill(8)(0.0), 1 -> Seq.fill(8)(3.0), 2 -> Seq.fill(8)(6.0)), 3)
    val out = Similarity.ivfTopKWithIndex(index, corpus, queries, "id", "vec", "qid", "qvec", k = 5)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    // the ONLY Exchange is the top-k window on (qid); the corpus is never
    // shuffled or amplified for centroid assignment
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "CartesianProduct"
  }

  test("IVF-PQ ADC scoring joins queries by cell — no per-row all-query loop") {
    import graft.ops.Similarity
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i % 4 * 10 + d).toFloat))).toDF("id", "vec")
    val queries = (0 until 4).map(i =>
      (1000L + i, Array.tabulate(8)(d => (i * 10 + d).toFloat))).toDF("qid", "qvec")
    val ivf = Similarity.buildIvfIndex(corpus, "vec", nlist = 4)
    val cb = Similarity.trainPq(corpus, "vec", dim = 8, m = 2, sampleN = 64)
    val encoded = Similarity.ivfPqEncode(corpus, "id", "vec", ivf, cb)
    val plan = Similarity.ivfPqTopK(encoded, queries, "id", "qid", "qvec", ivf, cb, k = 3)
      .queryExecution.executedPlan.toString
    // corpus rows meet ONLY their cell's queries via a broadcast equi-join
    // on cid; the old shape looped the whole collected query set per row
    plan should include("BroadcastHashJoin")
    plan should include regex "(?i)\\[cid"
  }

  test("capped candidate generation has no self-join (simhash + embedding)") {
    import graft.ops.{Dedup, Similarity}
    val docs = (0 until 50).map(i => (i.toLong, s"some text body $i")).toDF("doc_id", "text")
    val sim = Dedup.simhashCandidates(docs, "doc_id", "text")
    sim.queryExecution.executedPlan.toString should not include "Join"
    val emb = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i + d).toFloat))).toDF("vec_id", "embedding")
    val nd = Similarity.embeddingNearDupCandidates(emb, "vec_id", "embedding", dim = 8, minCosine = 0.5)
    nd.queryExecution.executedPlan.toString should not include "Join"
  }

  test("takeByBudgetPerGroup never plans a one-task-per-group window over rows") {
    import graft.ops.Sampling
    val df = (0 until 2000).map(i => (i.toLong, s"g${i % 3}", (i % 97).toLong + 1))
      .toDF("id", "grp", "tok")
    val out = Sampling.takeByBudgetPerGroup(df, "grp",
      Seq(col("tok").desc, col("id")), "tok", budget = 5000L, numPartitions = 8)
    val singles = out.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.numPartitions == 1 => e
    }
    // row-level data goes through the RANGE partitioner on (group, rank);
    // only the per-(group,pid) TOTALS frame may coalesce below `parts`
    singles.size should be <= 1
    singles.foreach { e =>
      e.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      } should not be empty
    }
    out.queryExecution.sparkPlan.toString should include("rangepartitioning")
  }

  test("exactKeepBest is ONE map-side-combining argmax pass — no joins, no window") {
    import graft.ops.Dedup
    val docs = (0 until 200).map(i => (i.toLong, s"body $i " * 20, i % 5))
      .toDF("doc_id", "text", "score")
    val qe = Dedup.exactKeepBest(docs, "doc_id", "text", col("score")).queryExecution
    val plan = qe.executedPlan.toString
    // r16 single-pass shape: max_by(payload, (score, -id)) per content
    // hash — the corpus is scanned once, with partial aggregation (one
    // combined row per hash per map partition, so a giant dup group never
    // funnels), and there is NO join-back and no per-hash window sort
    plan should include("partial_max_by")
    plan should not include "Join"
    plan should not include "Window"
    // exactly one exchange: the hash-keyed aggregation shuffle of
    // already-combined rows
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("generic exact dedup plans a struct-min agg, window only for non-orderable payloads") {
    import graft.ops.Dedup
    val df = (0 until 400).map(i => (i % 3, i.toLong, s"v$i")).toDF("k", "o", "v")
    val plan = Dedup.exact(df, Seq("k"), "o").queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("partial_min")
    // map payloads cannot feed min(struct) — documented window fallback
    val mapDf = df.withColumn("m", map(col("v"), col("o")))
    Dedup.exact(mapDf, Seq("k"), "o").queryExecution.executedPlan
      .toString should include("Window")
  }

  test("generic exact dedup survives a hot key: one group holding 90% of rows") {
    import graft.ops.Dedup
    // 9k rows share key 0 (the shape that kills a window sort), 1k spread
    val rows = (0 until 10000).map(i => (if (i < 9000) 0 else i % 97 + 1, i.toLong, s"p$i"))
    val out = Dedup.exact(rows.toDF("k", "o", "v"), Seq("k"), "o")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    out.length shouldBe 98 // 1 winner for the hot key + 97 others
    out.head shouldBe ((0, 0L)) // smallest orderCol wins deterministically
  }

  test("minhash star-edges pick bucket reps via partial agg, never a per-bucket window") {
    import graft.ops.Dedup
    val docs = (0 until 100).map(i =>
      (i.toLong, if (i % 2 == 0) "the same duplicated body" else s"unique text $i"))
      .toDF("doc_id", "text")
    val plan = Dedup.minhashDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // a Window.partitionBy(band,bucket) would sort each bucket in one task —
    // the giant dup-cluster bucket becomes a single-task funnel at scale
    plan should not include "Window"
    // map-side combine: partial min(id) runs before the Exchange
    plan should include("partial_min")
  }

  test("paragraphDedup plans no window; winners rejoin on the uniform (id,pos) key") {
    import graft.ops.Dedup
    val docs = (0 until 100).map(i => (i.toLong, s"SHARED HEADER\nunique line $i"))
      .toDF("id", "text")
    val plan = Dedup.paragraphDedup(docs, "id", "text")
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("partial_max_by")
    plan should include regex "(?i)leftsemi"
  }

  test("paragraphDedupKeepBest plans no window; same agg+join shape as keep-first") {
    import graft.ops.Dedup
    val docs = (0 until 100).map(i => (i.toLong, s"SHARED HEADER\nunique line $i", i % 5))
      .toDF("id", "text", "score")
    val plan = Dedup.paragraphDedupKeepBest(docs, "id", "text", "score")
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("partial_max_by")
    plan should include regex "(?i)leftsemi"
  }

  test("takeTopNPerGroup and the budget-map variant plan no per-group row window") {
    import graft.ops.Sampling
    val df = (0 until 2000).map(i => (i.toLong, s"g${i % 3}", (i % 97).toLong + 1))
      .toDF("id", "grp", "tok")
    for (out <- Seq(
        Sampling.takeTopNPerGroup(df, "grp",
          Seq(col("tok").desc, col("id")), n = 10L, numPartitions = 8),
        Sampling.takeByBudgetPerGroupMap(df, "grp",
          Seq(col("tok").desc, col("id")), "tok", Map("g0" -> 500L),
          defaultBudget = 100L, numPartitions = 8))) {
      val singles = out.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
      }
      // only the per-(group,pid) TOTALS frame may coalesce to one partition
      singles.size should be <= 1
      singles.foreach { e =>
        e.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        } should not be empty
      }
      out.queryExecution.sparkPlan.toString should include("rangepartitioning")
    }
  }

  test("dupNgramStats never joins on the gram — only on the uniform doc id") {
    import graft.ops.Dedup
    val docs = (0 until 100).map(i =>
      (i.toLong, if (i % 2 == 0) "the same duplicated body of shared text here"
                 else s"unique words for document number $i only right here"))
      .toDF("doc_id", "text")
    val qe = Dedup.dupNgramStats(docs, "doc_id", "text", n = 5).queryExecution
    // a join keyed on the gram would funnel a boilerplate span's million
    // occurrences through one task; the op's only join is totals⋈uniques on
    // the doc id
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    joins should have size 1
    joins.head.condition.get.references.map(_.name).toSet shouldBe Set("doc_id")
    // both winner aggregates combine map-side
    qe.executedPlan.toString should include("partial_count")
  }

  test("removeDupNgramSpans: no window, no cartesian — gram join is a linear equi-join") {
    import graft.ops.Dedup
    val docs = (0 until 50).map(i =>
      (i.toLong, if (i % 2 == 0) "the same duplicated body of shared text here today"
                 else s"unique words for document number $i only right here now"))
      .toDF("doc_id", "text")
    val qe = Dedup.removeDupNgramSpans(docs, "doc_id", "text", n = 5).queryExecution
    val plan = qe.executedPlan.toString
    // a hot gram must stream through an AQE-splittable equi-join, never a
    // per-gram window sort or a pair expansion
    plan should not include "Window"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the duplicated-gram finder combines map-side
    plan should include("partial_count")
  }

  test("paragraphDedupFrequent anti-joins against only the hot hashes, broadcast") {
    import graft.ops.Dedup
    val docs = (0 until 100).map(i => (i.toLong, s"HEADER\nunique line $i"))
      .toDF("id", "text")
    val plan = Dedup.paragraphDedupFrequent(docs, "id", "text", maxDf = 2L)
      .queryExecution.executedPlan.toString
    // the over-threshold hash set is tiny → must broadcast, never sort-merge
    plan should include regex "Broadcast.*LeftAnti|LeftAnti.*Broadcast"
    plan should not include "SortMergeJoin LeftAnti"
  }

  test("range join plans as a hash equi-join on (keys, chunk), never a nested loop") {
    val events = (0 until 1000).map(i => (i.toLong % 50, i.toLong * 7)).toDF("k", "t")
    val intervals = (0 until 100).map(i => (i.toLong % 50, i.toLong * 60, i.toLong * 60 + 120))
      .toDF("k", "s", "e")
    val plan = graft.ops.Joins.rangeJoin(events, intervals, Seq("k"), "t", "s", "e", chunk = 100)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include regex "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
  }

  test("decontamination broadcasts the benchmark grams; corpus side never sort-merges") {
    import graft.ops.Decontamination
    val corpus = (0 until 200).map(i => (i.toLong, s"word$i alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val bench = Seq((0L, "alpha beta gamma delta epsilon")).toDF("bid", "btext")
    val plan = Decontamination.contaminationReport(corpus, "doc_id", "text", bench, "btext", n = 4)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("mixture resampling joins per-domain fractions by broadcast only") {
    import graft.ops.Sampling
    val df = (0 until 1000).map(i => (i.toLong, if (i % 3 == 0) "a" else "b")).toDF("id", "dom")
    val plan = Sampling.mixtureResample(df, col("id"), col("dom"), Map("a" -> 0.5, "b" -> 0.5))
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("packChunks: the only single-partition stage is the #partitions-row offset frame") {
    import graft.ops.Sampling
    val df = (0 until 1000).map(i => (i.toLong, (i % 50).toLong)).toDF("id", "tok")
    val out = Sampling.packChunks(df, "id", "tok", budget = 100, numPartitions = 8)
    val singles = out.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.numPartitions == 1 => e
    }
    singles.size should be <= 1
    singles.foreach { e =>
      // the single-partition exchange feeds the per-partition TOTALS (an
      // aggregate), never the row-level data path
      e.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      } should not be empty
    }
  }

  test("repetition metrics are pure codegen'd expressions — no UDF, no shuffle") {
    import graft.ops.TextAnalysis
    val docs = (0 until 100).map(i => (i.toLong, s"line a\nline b\nline a word $i")).toDF("id", "text")
    val out = docs.select(col("id"),
      TextAnalysis.dupLineFraction(col("text")),
      TextAnalysis.dupLineCharFraction(col("text")),
      TextAnalysis.dupBigramFraction(col("text")))
    val plan = out.queryExecution.executedPlan
    plan.toString should not include "ScalaUDF"
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    } shouldBe empty
  }

  test("bloom semi-join read schedules only the pruned file list") {
    val b = tmpDir("plan-bloom")
    val df = (0 until 300).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val md = Ktk.store(spark, b, "facts", df, bloomFor = Seq("k"))
    md.partitions.size should be > 1
    val probe = Seq(5L, 7L).toDF("key")
    val out = Ktk.semiJoinRead(spark, b, "facts", "k", probe)
    out.inputFiles.length should be < md.partitions.size
    // IN residual pushed to parquet on the survivors
    out.queryExecution.executedPlan.toString should include("In(k, [5,7])")
  }

  test("bucketed-write shuffle parallelism is decoupled from bucket count") {
    val df = (0 until 1000).map(i => (i % 2, i.toLong, s"v$i")).toDF("p", "k", "v")
    // numBuckets=2 but the DECLARED shuffle must still use
    // spark.sql.shuffle.partitions (AQE may then coalesce small data —
    // that's the desired behavior, so inspect the pre-AQE plan)
    val bucketed = Ktk.bucketFrame(df, Seq("p"), Seq("k"), numBuckets = 2)
    val exchanges = bucketed.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges should not be empty
    exchanges.head.outputPartitioning.numPartitions shouldBe
      spark.conf.get("spark.sql.shuffle.partitions").toInt
  }
}
