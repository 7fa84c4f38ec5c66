package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (a broadcast of the query set +
  * codegen'd dot products — no shuffle of the corpus). Scale path: random-
  * hyperplane LSH bucketing or IVF (k-means coarse quantizer) so each query
  * probes only a fraction of the corpus. All arithmetic uses native
  * higher-order functions (`aggregate`/`zip_with`) inside whole-stage
  * codegen; no UDF in the hot path.
  */
object Similarity {

  /** dot(a,b) via zip_with + aggregate, computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — bit-identical to the composable `dot/(norm*norm)` form
    * (same sequential double accumulation), ~an order of magnitude faster
    * than interpreted higher-order lambdas on wide vectors.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)

  /** Composable fallback for non-float arrays. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query row (small set — broadcast),
    * scan the corpus once, keep k best per query via window.
    * 100 TB shape: the corpus never shuffles — the only wide op is the
    * top-k aggregation on (query_id), whose input is already cut to
    * k × queries per partition by the per-partition rank pushdown AQE
    * applies to window-limit patterns.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .select(col(queryIdCol), col(idCol),
        cosine(col(vecCol), col(queryVecCol)).as("cos"))
      .filter(col(queryIdCol) =!= col(idCol))
    val w = Window.partitionBy(queryIdCol).orderBy(col("cos").desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** Radius search: all pairs (query, corpus) with cosine >= minCosine. Set
    * semantics (no ranking) — robust for differential testing.
    */
  def radiusSearch(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String,
      minCosine: Double): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .select(col(queryIdCol), col(idCol), cosine(col(vecCol), col(queryVecCol)).as("cos"))
      .filter(col(queryIdCol) =!= col(idCol) && col("cos") >= minCosine)

  /** Deterministic ±1 hyperplane matrix derived from (i, d) by an avalanche
    * hash — no stored model, reproducible across runs and engines.
    */
  private[ops] def hyperplanes(dim: Int, bits: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (i, d) =>
      var x = (i.toLong << 32 | d.toLong) * 0x9E3779B97F4A7C15L
      x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
      x ^= (x >>> 27)
      if (x >= 0) 1.0 else -1.0
    }

  /** Random-hyperplane LSH signature: `bits` sign bits of dot(v, h_i).
    * Vectors sharing a signature bucket are near-duplicate candidates.
    * Implemented as a single-pass Scala UDF over the precomputed plane
    * matrix — orders of magnitude cheaper than interpreted higher-order
    * expressions at bits x dim per row.
    */
  def lshBucket(vecColName: String, dim: Int, bits: Int = 16): Column = {
    val planes = hyperplanes(dim, bits)
    val f = udf { (v: Seq[Float]) =>
      var bucket = 0L
      var i = 0
      while (i < planes.length) {
        val p = planes(i)
        var s = 0.0
        var d = 0
        val n = math.min(p.length, v.length)
        while (d < n) { s += v(d) * p(d); d += 1 }
        if (s >= 0) bucket |= (1L << i)
        i += 1
      }
      bucket
    }
    f(col(s"`$vecColName`"))
  }

  /** Per-query recall of an approximate top-k against an exact one: the
    * fraction of `exact`'s (queryIdCol, idCol) pairs that `approx` found.
    * The differential self-oracle for ANN operators — LSH/IVF results have
    * no SQL twin, but their recall against [[bruteForceTopK]] on the same
    * corpus is measurable and assertable.
    */
  def recallVs(approx: DataFrame, exact: DataFrame,
      queryIdCol: String, idCol: String): DataFrame =
    exact.select(col(s"`$queryIdCol`"), col(s"`$idCol`"))
      .join(approx.select(col(s"`$queryIdCol`"), col(s"`$idCol`")).withColumn("__hit", lit(1)),
        Seq(queryIdCol, idCol), "left")
      .groupBy(col(s"`$queryIdCol`"))
      .agg((sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1))).as("recall"))

  /** Bucketed ANN: group corpus by LSH bucket, search each query only in its
    * bucket. Approximate (single-probe) — the 100-TB path where brute force
    * is off the table.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, bits: Int = 12): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val cb = corpus.repartition(par).withColumn("__bucket", lshBucket(vecCol, dim, bits))
    val qb = queries.withColumn("__bucket", lshBucket(queryVecCol, dim, bits))
    val joined = cb.join(qb.hint("broadcast"), Seq("__bucket"))
      .select(col(queryIdCol), col(idCol), cosine(col(vecCol), col(queryVecCol)).as("cos"))
      .filter(col(queryIdCol) =!= col(idCol))
    val w = Window.partitionBy(queryIdCol).orderBy(col("cos").desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** Multi-probe LSH top-k: each query probes its own bucket PLUS every
    * bucket within Hamming distance `probeRadius` in signature space — the
    * standard recall fix for single-probe LSH (cf. Lv et al., multi-probe
    * LSH): a near neighbor differing in one or two hyperplane signs is
    * still found. Radius 1 costs bits+1 probes, radius 2 adds bits·(bits-1)/2
    * more — still a tiny fraction of 2^bits buckets for real bit widths.
    * The corpus stays single-bucketed and never shuffles more than once;
    * only the tiny query side fans out ×(#probes) before the broadcast join.
    */
  def lshTopKMultiProbe(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, bits: Int = 12, probeRadius: Int = 1): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2, "probeRadius must be 0, 1 or 2")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val cb = corpus.repartition(par).withColumn("__bucket", lshBucket(vecCol, dim, bits))
    val probes = udf { (b: Long) =>
      val r1 = if (probeRadius >= 1) Array.tabulate(bits)(i => b ^ (1L << i)).toSeq else Nil
      val r2 = if (probeRadius >= 2)
        for { i <- 0 until bits; j <- (i + 1) until bits } yield b ^ (1L << i) ^ (1L << j)
      else Nil
      b +: (r1 ++ r2)
    }
    val qb = queries.withColumn("__bucket",
      explode(probes(lshBucket(queryVecCol, dim, bits))))
    val joined = cb.join(qb.hint("broadcast"), Seq("__bucket"))
      .select(col(queryIdCol), col(idCol), cosine(col(vecCol), col(queryVecCol)).as("cos"))
      .filter(col(queryIdCol) =!= col(idCol))
      .dropDuplicates(queryIdCol, idCol)
    val w = Window.partitionBy(queryIdCol).orderBy(col("cos").desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** Embedding near-duplicate pairs: all corpus pairs with cosine >=
    * threshold, found via LSH buckets (only within-bucket pairs are scored).
    *
    * Scale shape: collect-per-bucket with a hard `maxBucket` cap (the same
    * salt-or-skip pattern as [[Dedup.minhashCandidates]]) so a pathological
    * hot bucket on a duplicate-heavy corpus cannot trigger an unbounded
    * quadratic self-join — oversized buckets are skipped, not exploded.
    * Only (bucket, id, vector) rows shuffle, once.
    */
  /** EXACT near-dup pairs by brute force — the recall oracle for the
    * LSH-bucketed candidates and the DuckDB-twinnable baseline of the
    * near-dup family (what [[recallVs]] is to top-k search). O(n²/2)
    * cosines BY DEFINITION: run it on samples or evaluation slices; the
    * scale path is [[embeddingNearDupCandidates]]. Self-join shape —
    * Catalyst broadcasts the smaller side; cosine is the codegen'd
    * [[graft.functions.CosineSimilarity]] expression.
    */
  def bruteForceNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    val a = corpus.select(col(idCol).cast("long").as("id_a"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).cast("long").as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= minCosine)
      .select("id_a", "id_b", "cos")
  }

  def embeddingNearDupCandidates(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double, bits: Int = 10, maxBucket: Int = 1000,
      skippedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val cb = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__bucket", lshBucket(vecCol, dim, bits))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("__bucket"))
    withinBucketPairs(cb, maxBucket, skippedBuckets).filter(col("cos") >= minCosine)
  }

  /** Within-bucket pair scoring as a bounded kernel over a (id, v, __bucket)
    * frame: members sorted by id, cosine computed pairwise in one pass
    * (O(maxBucket²·dim) worst case, bounded by the cap; oversized buckets
    * are counted into the accumulator and skipped, never exploded). Only
    * (bucket, id, vector) rows shuffle, once. Shared by the LSH-bucketed
    * near-dup candidates and the k-means-celled [[semanticDedup]].
    */
  private def withinBucketPairs(
      bucketed: DataFrame, maxBucket: Int,
      skippedBuckets: Option[org.apache.spark.util.LongAccumulator]): DataFrame = {
    val pairUdf = udf { (members: Seq[org.apache.spark.sql.Row]) =>
      val arr = members.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val (a, b) = (arr(i)._2, arr(j)._2)
          var dotp = 0.0; var na = 0.0; var nb = 0.0
          var d = 0
          val lim = math.min(a.length, b.length)
          while (d < lim) {
            dotp += a(d).toDouble * b(d); na += a(d).toDouble * a(d); nb += b(d).toDouble * b(d)
            d += 1
          }
          val cos = if (na == 0.0 || nb == 0.0) 0.0 else dotp / (math.sqrt(na) * math.sqrt(nb))
          out += ((arr(i)._1, arr(j)._1, cos))
          j += 1
        }
        i += 1
      }
      out.toSeq
    }
    bucketed.groupBy("__bucket")
      .agg(collect_list(struct(col("id"), col("v"))).as("members"))
      .filter(Dedup.bucketCapFilter(maxBucket, skippedBuckets)(size(col("members"))))
      .select(explode(pairUdf(col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, score pairs WITHIN each cluster, and drop all but one
    * member of every semantic-duplicate group (cosine >= `minCosine`,
    * transitive closure). Unlike [[embeddingDedupCC]]'s random-hyperplane
    * buckets, the learned cells follow the corpus's actual density — the
    * published method's key property — and the trained quantizer can be
    * persisted and shared with IVF search ([[saveIvfIndex]]).
    *
    * Survivors: least id per duplicate component, or with `keepBest` the
    * first member of `ORDER BY score DESC NULLS LAST, id` (keep the
    * highest-quality copy; a NaN score ranks first). Returns the surviving
    * subset of `corpus`, all columns.
    *
    * Scale shape: the quantizer trains on a driver-side sample (tiny,
    * reusable); cell assignment is a NARROW map over closure-broadcast
    * centroids (no crossJoin, no shuffle); within-cell pairs run through
    * the same capped collect-per-bucket kernel as every other quadratic
    * here (oversized cells counted + skipped); closure and survivors are
    * [[Dedup.dedupCCFromPairs]], shared with every near-dup flow.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double, nlist: Int = 64, maxCell: Int = 1000,
      keepBest: Option[Column] = None, seed: Long = 42L,
      trainFraction: Double = 1.0,
      skippedCells: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = corpus.sparkSession
    // quantizer training must NOT iterate over the full corpus at scale —
    // set trainFraction so the k-means sample is ~10⁵–10⁶ rows (Bernoulli
    // sample, deterministic under the seed); assignment below still covers
    // every row. The default 1.0 is exact-small-data behavior.
    val train =
      if (trainFraction >= 1.0) corpus
      else corpus.sample(withReplacement = false, trainFraction, seed)
    val ivf = buildIvfIndex(train, vecCol, nlist, seed)
    val celled = corpus
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("__bucket",
        explode(nearestCidsUdf(ivf.centroids, 1)(col(s"`$vecCol`"))))
      .select(col(s"`$idCol`").cast("long").as("id"), col(s"`$vecCol`").as("v"),
        col("__bucket"))
    Dedup.dedupCCFromPairs(corpus, idCol,
      withinBucketPairs(celled, maxCell, skippedCells).filter(col("cos") >= minCosine),
      keepBest)
  }

  /** Nearest-centroid topic-cell assignment: adds `outCol` (int cell id in
    * [0, nlist)) to every row. The quantizer trains on a Bernoulli sample
    * (`trainFraction` — set it so the k-means input is ~10⁵–10⁶ rows at
    * scale); assignment itself is a NARROW map over the closure-broadcast
    * centroid matrix — the corpus never shuffles. The building block of
    * cluster-conditioned curation: topic labeling, per-topic quality
    * stats, [[clusterBalancedSample]].
    */
  def clusterAssign(
      corpus: DataFrame, vecCol: String, nlist: Int = 64, seed: Long = 42L,
      trainFraction: Double = 1.0, outCol: String = "cluster"): DataFrame = {
    val train =
      if (trainFraction >= 1.0) corpus
      else corpus.sample(withReplacement = false, trainFraction, seed)
    val ivf = buildIvfIndex(train, vecCol, nlist, seed)
    corpus.withColumn(outCol,
      explode(nearestCidsUdf(ivf.centroids, 1)(col(s"`$vecCol`"))))
  }

  /** Cluster-balanced corpus selection (topic balancing): cap every
    * embedding-cluster's contribution at `perClusterCap` rows, keeping the
    * best-`score` rows per cell (or a seed-deterministic pseudo-random
    * subset when no score is given). The de-skew step of web-scale
    * training mixes — boilerplate-heavy topic clusters stop dominating the
    * token budget while small topics survive whole.
    *
    * Shapes: cell assignment is a narrow map ([[clusterAssign]]); the
    * per-cell cap is [[graft.ops.Sampling.takeTopNPerGroup]]'s two-level
    * cumsum — a hot cluster spans many partitions, never one window task.
    * Output keeps the `cluster` column (callers usually want the label).
    */
  def clusterBalancedSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      perClusterCap: Long, nlist: Int = 64,
      score: Option[Column] = None, seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame = {
    require(perClusterCap > 0, "perClusterCap must be >= 1")
    val assigned = clusterAssign(corpus, vecCol, nlist, seed, trainFraction)
    val order: Seq[Column] = score match {
      case Some(s) => Seq(s.desc, col(s"`$idCol`"))
      case None => Seq(
        xxhash64(lit(seed.toString), col(s"`$idCol`").cast("string")),
        col(s"`$idCol`"))
    }
    graft.ops.Sampling.takeTopNPerGroup(assigned, "cluster", order, perClusterCap)
  }

  /** Embedding near-dup FULL dedup with transitive closure: candidate edges
    * above `minCosine` go through [[Dedup.dedupCCFromPairs]], each cluster
    * keeps its minimum id — the embedding analog of
    * [[Dedup.minhashDedupCC]]. A chain A~B~C collapses to {A} even when A
    * and C share no bucket.
    */
  def embeddingDedupCC(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double, bits: Int = 10, maxBucket: Int = 1000): DataFrame =
    Dedup.dedupCCFromPairs(corpus, idCol,
      embeddingNearDupCandidates(corpus, idCol, vecCol, dim, minCosine, bits, maxBucket))

  /** IVF coarse-quantizer index: k-means centroids, built ONCE over a
    * corpus and reused across queries (the production pattern — centroids
    * are tiny and broadcastable; at 100 TB they would be trained on a
    * sample and persisted beside the dataset).
    */
  final case class IvfIndex(centroids: Seq[(Int, Seq[Double])], nlist: Int)

  def buildIvfIndex(corpus: DataFrame, vecCol: String, nlist: Int = 16, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Every k-means pass (init steps + maxIter Lloyd rounds) is one job
    // over the training frame; a small training sample spread over many
    // partitions pays per-task scheduling on each of them. Cache once,
    // count, coalesce to ~50k vectors/partition — large samples keep
    // their parallelism untouched (coalesce only shrinks).
    val train0 = corpus
      .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = train0.count()
      val cur = train0.rdd.getNumPartitions
      val want = math.max(1L, math.min(cur.toLong, n / 50000L + 1L)).toInt
      val train = if (want < cur) train0.coalesce(want) else train0
      val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(train)
      IvfIndex(km.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.toSeq) }.toSeq, nlist)
    } finally train0.unpersist()
  }

  /** Persist the IVF quantizer beside the data as a managed Ktk dataset
    * (columns cid, centroid) — at 100 TB the quantizer is trained once on a
    * sample and REUSED across jobs; rebuilding k-means per query job would
    * dominate cost and break result stability.
    */
  def saveIvfIndex(
      spark: org.apache.spark.sql.SparkSession, base: String, uuid: String,
      index: IvfIndex): Unit = {
    import spark.implicits._
    graft.ktk.Ktk.store(spark, base, uuid,
      index.centroids.toDF("cid", "centroid"), overwrite = true,
      userMetadata = Map("nlist" -> index.nlist.toString))
  }

  def loadIvfIndex(
      spark: org.apache.spark.sql.SparkSession, base: String, uuid: String): IvfIndex = {
    val md = graft.ktk.DatasetMetadata.load(spark, base, uuid)
    val rows = graft.ktk.Ktk.readTable(spark, base, uuid).collect()
    IvfIndex(
      rows.map(r => (r.getLong(r.fieldIndex("cid")).toInt,
        r.getSeq[Double](r.fieldIndex("centroid")).toSeq)).toSeq.sortBy(_._1),
      md.metadata("nlist").toInt)
  }

  /** Nearest-`n` centroid ids per vector as a single-pass kernel over the
    * closure-captured (task-broadcast) centroid matrix — the scale-safe
    * assignment plan: a NARROW map over the corpus, zero shuffle, zero row
    * amplification. (The naive alternative — crossJoin×nlist then a
    * row_number window — amplifies the corpus nlist× and shuffles all of it
    * just to argmin a handful of distances.)
    */
  private def nearestCidsUdf(centroids: Seq[(Int, Seq[Double])], n: Int) = {
    val cids = centroids.map(_._1).toArray
    val cents = centroids.map(_._2.toArray).toArray
    udf { (v: Seq[Float]) =>
      val dists = Array.tabulate(cents.length) { i =>
        val c = cents(i)
        var s = 0.0
        var d = 0
        val lim = math.min(c.length, v.length)
        while (d < lim) { val diff = v(d) - c(d); s += diff * diff; d += 1 }
        (s, cids(i))
      }
      dists.sortInPlace()
      dists.take(math.min(n, dists.length)).map(_._2).toSeq
    }
  }

  /** IVF-style ANN over a prebuilt index: probe only the `nprobe` nearest
    * centroids per query. Returns top-k.
    */
  def ivfTopKWithIndex(
      index: IvfIndex,
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    def nearestCids(vecDf: DataFrame, vcol: String, n: Int): DataFrame =
      vecDf.withColumn("cid",
        explode(nearestCidsUdf(index.centroids, n)(col(s"`$vcol`"))))

    val corpusAssigned = nearestCids(corpus.select(col(idCol), col(vecCol)), vecCol, 1)
    val queryAssigned = nearestCids(queries.select(col(queryIdCol), col(queryVecCol)), queryVecCol, nprobe)
    val joined = corpusAssigned.join(queryAssigned.hint("broadcast"), Seq("cid"))
      .select(col(queryIdCol), col(idCol), cosine(col(vecCol), col(queryVecCol)).as("cos"))
      .filter(col(queryIdCol) =!= col(idCol))
    val w = Window.partitionBy(queryIdCol).orderBy(col("cos").desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  // --------------------------------------------------------------- PQ (ADC)

  /** Product-quantization codebooks: `m` subspaces × 256 codes × `dsub`
    * floats. At 100 TB this is the memory-scale path — a 64-dim float
    * vector (256 B) compresses to `m` bytes, so a billion-vector corpus
    * fits in executor memory for scanning; distances come from per-query
    * lookup tables (asymmetric distance computation, ADC; Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search").
    */
  final case class PqCodebooks(m: Int, dsub: Int, codebooks: Array[Array[Array[Float]]])

  /** Train per-subspace codebooks with driver-side Lloyd's k-means over a
    * sample (deterministic: seeded sample + farthest-point-ish init by
    * stride). The sample is tiny relative to any corpus; at full scale
    * train on `corpus.sample(...)` exactly the same way.
    */
  def trainPq(
      corpus: DataFrame, vecCol: String, dim: Int,
      m: Int = 8, sampleN: Int = 2000, iters: Int = 15, seed: Long = 42L): PqCodebooks = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val sample = corpus.select(col(s"`$vecCol`"))
      .sample(withReplacement = false, fraction = 1.0, seed = seed)
      .limit(sampleN).collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val codebooks = Array.tabulate(m) { sub =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      val k = math.min(256, pts.length)
      // deterministic stride init over the sample
      val cents = Array.tabulate(k)(i => pts((i * pts.length) / k).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var j = 0
            while (j < dsub) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += p(j); j += 1 }
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var j = 0
            while (j < dsub) { cents(c)(j) = (sums(c)(j) / counts(c)).toFloat; j += 1 }
          }
          c += 1
        }
        it += 1
      }
      cents
    }
    PqCodebooks(m, dsub, codebooks)
  }

  /** Encode vectors to `m`-byte PQ codes (a narrow map; the corpus never
    * shuffles).
    */
  def pqEncode(df: DataFrame, vecCol: String, cb: PqCodebooks): DataFrame = {
    val enc = udf { (v: Seq[Float]) =>
      val out = new Array[Byte](cb.m)
      var sub = 0
      while (sub < cb.m) {
        val cents = cb.codebooks(sub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var j = 0
          while (j < cb.dsub) {
            val t = v(sub * cb.dsub + j) - cents(c)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(sub) = best.toByte
        sub += 1
      }
      out
    }
    df.withColumn("__pq", enc(col(s"`$vecCol`")))
  }

  /** Per-query ADC lookup table (flattened m×256 floats), computed as a
    * narrow map over the QUERY frame — the codebooks ride the task closure,
    * the query set itself never collects to the driver.
    */
  private def adcTableUdf(cb: PqCodebooks) = udf { (v: Seq[Float]) =>
    val flat = new Array[Float](cb.m * 256)
    var sub = 0
    while (sub < cb.m) {
      val cents = cb.codebooks(sub)
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var j = 0
        while (j < cb.dsub) { val t = v(sub * cb.dsub + j) - cents(c)(j); d += t * t; j += 1 }
        flat(sub * 256 + c) = d.toFloat
        c += 1
      }
      sub += 1
    }
    flat
  }

  /** ADC distance: m strided lookups into the query's flat table. */
  private def adcDistUdf(m: Int) = udf { (code: Array[Byte], table: Seq[Float]) =>
    var d = 0.0f
    var sub = 0
    while (sub < m) { d += table(sub * 256 + (code(sub) & 0xff)); sub += 1 }
    d
  }

  /** ADC top-k over PQ codes: each query's m×256 lookup table is computed
    * map-side on the query frame, then JOINED (broadcast) against the
    * corpus — scoring a (row, query) pair is `m` table lookups, distributed
    * as ordinary join rows instead of a per-corpus-row loop over the whole
    * collected query set. Per-row cost stays O(m × queries-matched-here)
    * and a 100× query batch fans out across the cluster, not into every
    * row's UDF call. One Exchange (the top-k window).
    */
  def pqTopK(
      encodedCorpus: DataFrame, queries: DataFrame,
      idCol: String, queryIdCol: String, queryVecCol: String,
      cb: PqCodebooks, k: Int): DataFrame = {
    val qTables = queries.select(col(s"`$queryIdCol`").cast("long").as(queryIdCol),
      adcTableUdf(cb)(col(s"`$queryVecCol`")).as("__qt"))
    val scored = encodedCorpus.select(col(s"`$idCol`"), col("__pq"))
      .crossJoin(broadcast(qTables))
      .select(col(queryIdCol), col(s"`$idCol`"),
        adcDistUdf(cb.m)(col("__pq"), col("__qt")).as("dist"))
      .filter(col(queryIdCol) =!= col(s"`$idCol`"))
    val w = Window.partitionBy(queryIdCol).orderBy(col("dist").asc, col(s"`$idCol`"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** IVF-PQ layout: every corpus vector carries its coarse cell id plus
    * its m-byte PQ code — the canonical billion-scale ANN storage (FAISS
    * IVFPQ): the cell id restricts the scan to nprobe cells, the code keeps
    * per-row cost at m table lookups. One narrow map, no shuffle.
    */
  def ivfPqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      ivf: IvfIndex, cb: PqCodebooks): DataFrame =
    pqEncode(corpus, vecCol, cb)
      .withColumn("cid", explode(nearestCidsUdf(ivf.centroids, 1)(col(s"`$vecCol`"))))
      .select(col(s"`$idCol`"), col("cid"), col("__pq"))

  /** ADC top-k over the IVF-PQ layout: each query probes its `nprobe`
    * nearest cells and scores ONLY rows in those cells, via its m×256
    * lookup table. Queries are GROUPED BY PROBED CELL and equi-joined to
    * the corpus on `cid` (broadcast query tables), so a corpus row scores
    * exactly the queries probing its cell — per-row cost no longer scales
    * with the total query-batch size. The scan reads (id, cid, code) —
    * 1+m+4 bytes of payload per row — and the single Exchange is the final
    * top-k window.
    */
  def ivfPqTopK(
      encoded: DataFrame, queries: DataFrame,
      idCol: String, queryIdCol: String, queryVecCol: String,
      ivf: IvfIndex, cb: PqCodebooks, k: Int, nprobe: Int = 2): DataFrame = {
    val qTables = queries
      .select(col(s"`$queryIdCol`").cast("long").as(queryIdCol),
        adcTableUdf(cb)(col(s"`$queryVecCol`")).as("__qt"),
        explode(nearestCidsUdf(ivf.centroids, nprobe)(col(s"`$queryVecCol`"))).as("cid"))
    val scored = encoded.join(broadcast(qTables), Seq("cid"))
      .select(col(queryIdCol), col(s"`$idCol`"),
        adcDistUdf(cb.m)(col("__pq"), col("__qt")).as("dist"))
      .filter(col(queryIdCol) =!= col(s"`$idCol`"))
    val w = Window.partitionBy(queryIdCol).orderBy(col("dist").asc, col(s"`$idCol`"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** Convenience: build the index then search (tests / one-shot use). */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L): DataFrame =
    ivfTopKWithIndex(buildIvfIndex(corpus, vecCol, nlist, seed),
      corpus, queries, idCol, vecCol, queryIdCol, queryVecCol, k, nprobe)
}
