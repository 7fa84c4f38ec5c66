package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val doc = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  private val nearDup = doc.replace("green", "dark") // one-word change
  private val other = "completely different content about spark query engines and columnar storage formats for analytics"

  private def docs = Seq(
    (0L, doc), (1L, nearDup), (2L, other), (3L, doc) // 3 is exact dup of 0
  ).toDF("doc_id", "text")

  test("exactByHash keeps the min id per identical text") {
    val out = Dedup.exactByHash(docs, "doc_id", "text")
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(0L, 1L, 2L)
  }

  test("exactKeepBest keeps the highest score per identical text, ties by min id") {
    // first row of ORDER BY score DESC NULLS LAST, id: the null-scored
    // copy 5 never beats a real score
    val df = Seq[(Long, String, Option[Double])](
      (0L, doc, Some(5.0)), (3L, doc, Some(9.0)), // group keeps 3 (higher score)
      (5L, doc, None),
      (1L, nearDup, Some(2.0)),                   // singleton survives
      (2L, other, Some(1.0)), (4L, other, Some(1.0)) // tie → min id 2
    ).toDF("doc_id", "text", "score")
    val out = Dedup.exactKeepBest(df, "doc_id", "text", col("score"))
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("paragraphDedupFrequent removes ALL occurrences above the doc-frequency cap") {
    val df = Seq(
      (0L, "HOT\nunique a\n\nHOT"),   // HOT twice in one doc counts once
      (1L, "HOT\nunique b"),
      (2L, "hot \nunique c"),         // normalization folds into the same key
      (3L, "warm\nunique d"),
      (4L, "warm\nunique e")
    ).toDF("id", "text")
    val out = Dedup.paragraphDedupFrequent(df, "id", "text", maxDf = 2L)
      .as[(Long, String)].collect().toMap
    out(0L) shouldBe "unique a\n"        // HOTs gone, blank line kept
    out(1L) shouldBe "unique b"
    out(2L) shouldBe "unique c"
    out(3L) shouldBe "warm\nunique d"    // df=2 ≤ cap → kept everywhere
    out(4L) shouldBe "warm\nunique e"
  }

  test("paragraphDedupFrequent drops docs reduced to nothing") {
    val df = Seq((0L, "Z"), (1L, "Z"), (2L, "Z"), (3L, "keep")).toDF("id", "text")
    val out = Dedup.paragraphDedupFrequent(df, "id", "text", maxDf = 2L)
    out.select("id").as[Long].collect().sorted.toSeq shouldBe Seq(3L)
  }

  test("minhashDedupCCKeepBest keeps the highest-score member per component") {
    // the null-scored copy 5 joins the component and ranks last
    val df = Seq[(Long, String, Option[Double])](
      (0L, doc, Some(1.0)), (1L, nearDup, Some(7.0)), (3L, doc, Some(3.0)), // one component → 1
      (5L, doc, None),
      (2L, other, Some(0.5))                              // untouched singleton
    ).toDF("doc_id", "text", "score")
    val out = Dedup.minhashDedupCCKeepBest(df, "doc_id", "text", col("score"), threshold = 0.6)
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
  }

  test("exact (keep-first by order) on key columns") {
    val df = Seq((1, "b", 2.0), (1, "a", 1.0), (2, "c", 3.0)).toDF("k", "o", "v")
    val out = Dedup.exact(df, Seq("k"), "o")
    out.select("v").as[Double].collect().sorted.toSeq shouldBe Seq(1.0, 3.0)
  }

  test("minhash signatures: identical texts match on all slots, near-dups mostly") {
    val s1 = Dedup.minhashSignature(doc, 5, 128)
    val s2 = Dedup.minhashSignature(nearDup, 5, 128)
    val s3 = Dedup.minhashSignature(other, 5, 128)
    s1.toSeq shouldBe Dedup.minhashSignature(doc, 5, 128).toSeq // deterministic
    val sim12 = s1.zip(s2).count { case (a, b) => a == b } / 128.0
    val sim13 = s1.zip(s3).count { case (a, b) => a == b } / 128.0
    sim12 should be > 0.6
    sim13 should be < 0.2
  }

  test("local union-find CC equals the GraphX path (adaptive kernel, r16)") {
    // chains, a cycle, an out-of-order union, self-loops and duplicate
    // edges — the local path (under budget) and the forced GraphX path
    // (budget 1) must produce the identical (id, component) labeling
    val edges = Seq(
      (3L, 2L), (2L, 1L), (10L, 11L), (11L, 12L), (12L, 10L),
      (7L, 7L), (20L, 5L), (5L, 4L), (30L, 31L), (3L, 2L)
    ).toDF("id_a", "id_b")
    val local = Dedup.connectedComponentsOf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaGraphx = Dedup.connectedComponentsOf(edges, localEdgeBudget = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    local.toSeq shouldBe viaGraphx.toSeq
    local.toMap.apply(20L) shouldBe 4L // transitive min through 5
    local.toMap.apply(10L) shouldBe 10L // cycle keeps its min
  }

  test("normalizeWs and the simhash tokenizer are bit-equal to their regex forms") {
    // r16 perf: the per-row regexes in the signature/simhash kernels were
    // replaced by single-pass loops; persisted signature tables and gate
    // fixtures depend on EXACT equality with the old regex forms, so pin
    // it with a control-char-heavy fuzz (covers every \s member, non-\s
    // controls that only trim() strips, and multi-char runs at both ends)
    val rnd = new scala.util.Random(7)
    val alphabet: IndexedSeq[Char] =
      "aBz  \t\n\r\f" + 11.toChar + 1.toChar + 0.toChar + " eZ "
    def mix64Ref(x0: Long, seed: Long): Long = {
      var x = x0 ^ (seed * 0x9E3779B97F4A7C15L)
      x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
      x ^= (x >>> 27); x *= 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def simhashRef(text: String): Long = { // the pre-r16 split-based form
      val counts = new Array[Int](64)
      (if (text == null) "" else text).toLowerCase.split("\\s+").foreach { tok =>
        if (tok.nonEmpty) {
          val h = mix64Ref(tok.hashCode.toLong, 7)
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1; b += 1 }
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    for (_ <- 0 until 20000) {
      val s = (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      withClue(s"input=${s.toCharArray.map(_.toInt).mkString(",")}: ") {
        Dedup.normalizeWs(s) shouldBe s.replaceAll("\\s+", " ").trim
        Dedup.simhash64(s) shouldBe simhashRef(s)
      }
    }
    Dedup.simhash64(null) shouldBe simhashRef(null)
  }

  test("minhash signature overlap is an unbiased Jaccard estimator (kernel quality)") {
    // guards the HASH FAMILY itself (bumped to Kirsch-Mitzenmacher v2 in
    // r15): over synthetic pairs with KNOWN shingle-set Jaccard, the
    // 128-slot signature overlap must track the true value within the
    // binomial error envelope — a degenerate family (correlated
    // permutations, short-period steps) fails this long before any
    // end-to-end gate notices. Deterministic corpus, no RNG.
    val words = (0 until 60).map(i => s"w${i}word$i")
    def docOf(idx: Seq[Int]) = idx.map(words).mkString(" ")
    val errs = (0 until 30).map { t =>
      val keep = 20 + (t % 3) * 10          // shared core size
      val aExtra = (t % 7) + 3              // a-only suffix words
      val bExtra = (t % 5) + 3
      val core = (0 until keep).map(i => (i * 7 + t) % 60)
      val a = docOf(core ++ (0 until aExtra).map(i => (i * 11 + t + 1) % 60))
      val b = docOf(core ++ (0 until bExtra).map(i => (i * 13 + t + 2) % 60))
      val sa = Dedup.shingles(a, 5)
      val sb = Dedup.shingles(b, 5)
      val trueJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
      val ha = Dedup.minhashSignature(a, 5, 128)
      val hb = Dedup.minhashSignature(b, 5, 128)
      val est = ha.zip(hb).count { case (x, y) => x == y } / 128.0
      math.abs(est - trueJ)
    }
    // per-pair binomial sd <= 0.5/sqrt(128) ~ 0.044; mean |err| over 30
    // pairs lands well under 2 sd of a single estimate for a sound family
    (errs.sum / errs.size) should be < 0.06
    errs.max should be < 0.18 // ~4 sd: a broken family blows straight past
  }

  test("minhashCandidates finds exact + near dup pairs, not the distinct doc") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 128, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = cands.map(c => (c._1, c._2)).toSet
    pairs should contain((0L, 3L)) // exact dup
    pairs should contain((0L, 1L)) // near dup
    cands.find(c => (c._1, c._2) == (0L, 3L)).get._3 shouldBe 1.0
    pairs should not contain ((0L, 2L))
  }

  test("minhashDedup drops near+exact dups, keeps distinct docs") {
    // r15 judge directive: the star-edge pipeline must not cache anything
    // (the old shared-signature persist lingered in executor memory until
    // context shutdown). Delta-based: the session is shared across suites.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.6)
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(0L, 2L)
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("minhashDedupCC collapses transitive duplicate clusters to the min id") {
    val cluster = Seq(
      (10L, doc), (11L, doc), (12L, doc),            // identical triple
      (20L, other), (21L, other),                    // identical pair
      (30L, "a single short unique document here")   // singleton
    ).toDF("doc_id", "text")
    val out = Dedup.minhashDedupCC(cluster, "doc_id", "text", threshold = 0.9)
    out.select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(10L, 20L, 30L)
  }

  test("simhash: near-dups within small hamming distance, found by banding") {
    val pairs = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 3L))
    pairs should contain((0L, 1L))
    pairs should not contain ((0L, 2L))
  }

  test("removeBoilerplate drops cross-document repeated lines, keeps order and columns") {
    val docs = Seq(
      (1L, "en", "HEADER\nalpha beta\ngamma\nFOOTER"),
      (2L, "de", "header\ndelta\nFOOTER"),
      (3L, "en", "HEADER\nepsilon\nzeta\nFOOTER")
    ).toDF("doc_id", "lang", "text")
    // HEADER appears (case-insensitively) in 3 docs, FOOTER in 3 -> both go
    val out = Dedup.removeBoilerplate(docs, "doc_id", "text", minDocFreq = 3)
      .orderBy("doc_id").collect()
    out.map(_.getString(2)).toSeq shouldBe Seq("alpha beta\ngamma", "delta", "epsilon\nzeta")
    out.map(_.getString(1)).toSeq shouldBe Seq("en", "de", "en") // other cols survive
    // below the threshold nothing is removed
    Dedup.removeBoilerplate(docs, "doc_id", "text", minDocFreq = 4)
      .orderBy("doc_id").collect().map(_.getString(2)).toSeq shouldBe
      docs.orderBy("doc_id").collect().map(_.getString(2)).toSeq
    // empty lines are never counted as boilerplate but keep their place
    val withEmpty = Seq((1L, "x", "a\n\nb"), (2L, "x", "c\n\nd"), (3L, "x", "e\n\nf"))
      .toDF("doc_id", "lang", "text")
    Dedup.removeBoilerplate(withEmpty, "doc_id", "text", minDocFreq = 3)
      .orderBy("doc_id").collect().map(_.getString(2)).toSeq shouldBe
      Seq("a\n\nb", "c\n\nd", "e\n\nf")
  }

  test("editDistancePairs verifies candidates with exact levenshtein") {
    val pairs = Seq((0L, 3L), (0L, 1L)).toDF("id_a", "id_b")
    val out = Dedup.editDistancePairs(docs, pairs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    out((0L, 3L)) shouldBe ((0L, 1.0))                 // exact dup
    out((0L, 1L))._1 shouldBe 5L                       // green -> dark: 4 subs + 1 del
    out((0L, 1L))._2 shouldBe (1.0 - 5.0 / doc.length) +- 1e-9
  }

  test("ngramJaccard verification on candidate pairs") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(docs, pairs, "doc_id", "text", n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out((0L, 3L)) shouldBe 1.0
    out((0L, 1L)) should be > 0.5
    out((0L, 2L)) shouldBe 0.0
  }

  test("paragraphDedupWithinDoc keeps first occurrences and blank layout lines") {
    val df = Seq(
      (1L, "Home\nreal content here\nHome\n\nmore text\nreal content here"),
      (2L, "only\nunique\nlines"),
      (3L, "A\n  a \na") // normalization: "  a " == "a" == lower("A")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupWithinDoc(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "Home\nreal content here\n\nmore text"
    out(2L) shouldBe "only\nunique\nlines"
    out(3L) shouldBe "A"
    // cross-doc repeats are untouched — this is the intra-doc op
    val two = Seq((1L, "same\nx"), (2L, "same\ny")).toDF("doc_id", "text")
    Dedup.paragraphDedupWithinDoc(two, "doc_id", "text")
      .collect().map(_.getString(1)).sorted.toSeq shouldBe Seq("same\nx", "same\ny")
  }

  test("paragraphDedupWithinDoc plans no shuffle and no UDF") {
    val df = Seq((1L, "a\nb\na")).toDF("doc_id", "text")
    val plan = Dedup.paragraphDedupWithinDoc(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "BatchEvalPython"
    plan.toLowerCase should not include "scalaudf"
  }

  test("removeDupNgramSpans drops exactly the tokens covered by repeated n-grams") {
    // doc 0 and 3 share a verbatim 6-token span; doc 2 repeats a span
    // within itself; doc 4 is too short to carry any 5-gram
    val span = "the quick brown fox jumps high"
    val df = Seq(
      (0L, s"alpha beta $span gamma delta epsilon zeta eta"),
      (1L, "totally different words in this one right here now"),
      (2L, s"$span and again $span"),
      (4L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupNgramSpans(df, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

    // brute-force reference: token removed iff a duplicated 5-gram covers it
    val all = df.collect().map(r => (r.getLong(0), r.getString(1)))
    def tok(t: String) = t.trim.split("\\s+").filter(_.nonEmpty)
    val gramCounts = scala.collection.mutable.Map.empty[String, Int]
    all.foreach { case (_, t) =>
      val w = tok(t.toLowerCase)
      w.sliding(5).filter(_.length == 5).foreach(g =>
        gramCounts.updateWith(g.mkString(" "))(c => Some(c.getOrElse(0) + 1)))
    }
    all.foreach { case (docId, t) =>
      val w = tok(t)
      val lw = tok(t.toLowerCase)
      val coveredIdx = scala.collection.mutable.Set.empty[Int]
      lw.sliding(5).zipWithIndex.filter(_._1.length == 5).foreach { case (g, i) =>
        if (gramCounts(g.mkString(" ")) >= 2) (i until i + 5).foreach(coveredIdx += _)
      }
      val kept = w.zipWithIndex.collect { case (x, i) if !coveredIdx(i) => x }
      out(docId)._1 shouldBe kept.mkString(" ")
      out(docId)._2 shouldBe w.length.toLong
      out(docId)._3 shouldBe coveredIdx.size.toLong
    }
    // spot: the unique doc survives whole, the short doc passes through
    out(1L)._3 shouldBe 0L
    out(4L) shouldBe (("too short", 2L, 0L))
    // the self-repeating doc lost both copies of the span
    out(2L)._3 should be >= 12L
  }

  test("dupNgramStats: exact copies report full coverage, short docs report zero") {
    val df = Seq(
      (0L, doc), (3L, doc),      // verbatim pair → every gram duplicated
      (1L, nearDup),             // shares most but not all 5-grams with doc
      (2L, other),               // no overlap
      (4L, "too short")          // < 5 tokens → zero grams
    ).toDF("doc_id", "text")
    val out = Dedup.dupNgramStats(df, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val nGrams = doc.split("\\s+").length - 4
    out(0L) shouldBe ((nGrams.toLong, nGrams.toLong, 1.0))
    out(3L) shouldBe out(0L)
    out(2L)._2 shouldBe 0L
    out(2L)._3 shouldBe 0.0
    out(4L) shouldBe ((0L, 0L, 0.0))
    // the near-dup shares exactly the grams not covering the changed word
    out(1L)._1 shouldBe nGrams.toLong
    out(1L)._2 should (be > 0L and be < nGrams.toLong)
    // agrees with a brute-force string-gram reference on the same corpus
    val all = df.collect().map(r => (r.getLong(0), r.getString(1)))
    def gramsOf(t: String): Set[String] = {
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val gsets = all.map { case (id, t) => id -> gramsOf(t) }.toMap
    all.foreach { case (id, _) =>
      val mine = gsets(id)
      val dup = mine.count(g => gsets.exists { case (o, s) => o != id && s(g) })
      out(id)._1 shouldBe mine.size.toLong
      out(id)._2 shouldBe dup.toLong
    }
  }
}

class CapCountSpec extends SparkSpec {
  import spark.implicits._

  test("over-cap buckets are counted, never silently dropped") {
    // 100 identical docs plant one over-cap bucket per band; 20 uniques
    // stay in small buckets. The accumulator must see every skipped bucket.
    val hot = (0 until 100).map(i =>
      (i.toLong, "identical hot document body repeated everywhere across the corpus"))
    val uniq = (100 until 120).map(i =>
      (i.toLong, s"unique document number $i mentioning topic-$i and subject-${i * 7}"))
    val docs = (hot ++ uniq).toDF("doc_id", "text")

    val accM = spark.sparkContext.longAccumulator("minhashSkippedBuckets")
    Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 50,
      skippedBuckets = Some(accM)).count()
    accM.value shouldBe 32L // one over-cap bucket in each of the 32 bands

    val accS = spark.sparkContext.longAccumulator("simhashSkippedBuckets")
    Dedup.simhashCandidates(docs, "doc_id", "text", maxBucket = 50,
      skippedBuckets = Some(accS)).count()
    accS.value shouldBe 4L // one per 16-bit chunk band

    val emb = ((0 until 100).map(i => (i.toLong, Array.tabulate(8)(d => 0.5f + d * 0.01f))) ++
      (100 until 120).map(i => (i.toLong, Array.tabulate(8)(d => ((i * (d + 1)) % 97).toFloat))))
      .toDF("vec_id", "embedding")
    val accE = spark.sparkContext.longAccumulator("embSkippedBuckets")
    Similarity.embeddingNearDupCandidates(emb, "vec_id", "embedding",
      dim = 8, minCosine = 0.9, maxBucket = 50, skippedBuckets = Some(accE)).count()
    accE.value.longValue should be >= 1L // the identical-vector bucket

    // without an accumulator the behavior is unchanged (pairs still capped)
    Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 50).count() should be > 0L
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)) // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine column math") {
    val out = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" === 0 && $"b.vec_id" === 3)
      .select(Similarity.cosine($"a.embedding", $"b.embedding")).as[Double].head()
    out shouldBe -1.0 +- 1e-9
  }

  test("bruteForceTopK ranks the near vector first") {
    val queries = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val out = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", "query_id", "qvec", 2)
      .orderBy(desc("cos")).collect()
    out.map(_.getLong(1)).toSeq shouldBe Seq(1L, 2L)
  }

  test("radiusSearch returns the set above threshold") {
    val queries = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val out = Similarity.radiusSearch(vecs, queries, "vec_id", "embedding", "query_id", "qvec", 0.5)
    out.select("vec_id").as[Long].collect().toSeq shouldBe Seq(1L)
  }

  test("lsh bucket is deterministic and groups identical vectors") {
    val b = vecs.withColumn("bucket", Similarity.lshBucket("embedding", 4, 8))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    b(0L) shouldBe b(0L)
    // identical direction vectors share a bucket
    val dup = Seq((9L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("bucket", Similarity.lshBucket("embedding", 4, 8))
      .select("bucket").as[Long].head()
    dup shouldBe b(0L)
  }

  test("clusterAssign puts blob members in one cell, blobs in different cells") {
    // two well-separated blobs: 8 near [1,0,..], 4 near [0,1,..]
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val a = (0 until 8).map(i => (i.toLong, jitter(Array(1f, 0f, 0f, 0f))))
    val b = (10 until 14).map(i => (i.toLong, jitter(Array(0f, 1f, 0f, 0f))))
    val df = (a ++ b).toDF("vec_id", "embedding")
    val out = Similarity.clusterAssign(df, "embedding", nlist = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    out.filterKeys(_ < 8).values.toSet should have size 1
    out.filterKeys(_ >= 10).values.toSet should have size 1
    out(0L) should not be out(10L)
  }

  test("clusterBalancedSample caps hot clusters, keeps small ones whole") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val hot = (0 until 40).map(i => (i.toLong, jitter(Array(1f, 0f, 0f, 0f))))
    val cold = (100 until 110).map(i => (i.toLong, jitter(Array(0f, 1f, 0f, 0f))))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
      perClusterCap = 15, nlist = 2)
    val byCluster = out.groupBy("cluster").count()
      .as[(Int, Long)].collect().toMap
    byCluster.values.foreach(_ should be <= 15L)
    out.count() shouldBe 25 // 15 of the hot blob + all 10 cold
    // deterministic under the seed
    val again = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
      perClusterCap = 15, nlist = 2)
    again.select("vec_id").as[Long].collect().sorted.toSeq shouldBe
      out.select("vec_id").as[Long].collect().sorted.toSeq
  }

  test("clusterBalancedSample keep-best: highest scores survive per cluster") {
    val rnd = new scala.util.Random(13)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val a = (0 until 10).map(i =>
      (i.toLong, jitter(Array(1f, 0f, 0f, 0f)), i.toDouble))
    val b = (100 until 110).map(i =>
      (i.toLong, jitter(Array(0f, 1f, 0f, 0f)), (i - 100).toDouble))
    val df = (a ++ b).toDF("vec_id", "embedding", "quality")
    val out = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
      perClusterCap = 3, nlist = 2, score = Some(col("quality")))
    out.select("vec_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(7L, 8L, 9L, 107L, 108L, 109L)
  }

  test("embeddingNearDupCandidates finds the close pair") {
    val out = Similarity.embeddingNearDupCandidates(vecs, "vec_id", "embedding", 4, 0.9, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out should contain((0L, 1L))
  }

  test("ivfTopK approximates brute force on clustered data") {
    val clustered = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 1.0f, 0f, 0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val out = Similarity.ivfTopK(clustered, queries, "vec_id", "embedding", "query_id", "qvec",
      k = 5, nlist = 2, nprobe = 1)
    // all results from the even (x-axis) cluster
    out.select("vec_id").as[Long].collect().foreach(id => (id % 2) shouldBe 0L)
  }

  test("multi-probe LSH finds at least the single-probe candidates") {
    val corpus = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val sp = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qvec", k = 50, dim = 8, bits = 8)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = Similarity.lshTopKMultiProbe(corpus, queries, "vec_id", "embedding",
      "query_id", "qvec", k = 50, dim = 8, bits = 8)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Hamming-1 probing strictly widens the candidate set
    sp.subsetOf(mp) shouldBe true
    mp.size should be >= sp.size
  }

  test("PQ encode compresses to m bytes; ADC top-k finds same-cluster neighbors") {
    val clustered = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 1.0f, 0f, 0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.trainPq(clustered, "embedding", dim = 4, m = 2, sampleN = 40)
    cb.codebooks.length shouldBe 2
    val encoded = Similarity.pqEncode(clustered, "embedding", cb)
    encoded.select("__pq").head.getAs[Array[Byte]](0).length shouldBe 2
    val queries = clustered.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val out = Similarity.pqTopK(encoded, queries, "vec_id", "query_id", "qvec", cb, k = 5)
    out.count() shouldBe 5
    // all nearest codes come from the even (x-axis) cluster
    out.select("vec_id").as[Long].collect().foreach(id => (id % 2) shouldBe 0L)
  }

  test("IVF-PQ: probed-cell ADC top-k stays in the query's cluster") {
    val clustered = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 1.0f, 0f, 0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val ivf = Similarity.IvfIndex(
      Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0)), 2)
    val cb = Similarity.trainPq(clustered, "embedding", dim = 4, m = 2, sampleN = 40)
    val encoded = Similarity.ivfPqEncode(clustered, "vec_id", "embedding", ivf, cb)
    encoded.columns.toSeq shouldBe Seq("vec_id", "cid", "__pq")
    val queries = clustered.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val out = Similarity.ivfPqTopK(encoded, queries,
      "vec_id", "query_id", "qvec", ivf, cb, k = 5, nprobe = 1)
    out.count() shouldBe 5
    out.select("vec_id").as[Long].collect().foreach(id => (id % 2) shouldBe 0L)
  }

  test("IVF-PQ results are batch-size invariant: 100x queries answer each query identically") {
    // the cid-join shape must give every query the same answer whether it
    // arrives alone or in a large batch — and the batch fans out as join
    // rows (cell-matched pairs), not as per-corpus-row loops over all queries
    val clustered = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 1.0f, 0f, 0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val ivf = Similarity.IvfIndex(
      Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0)), 2)
    val cb = Similarity.trainPq(clustered, "embedding", dim = 4, m = 2, sampleN = 60)
    val encoded = Similarity.ivfPqEncode(clustered, "vec_id", "embedding", ivf, cb)
    val oneQuery = clustered.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val batch = (0 until 200).map { q =>
      val base = if (q % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 1.0f, 0f, 0f)
      (1000L + q, base.map(x => x + (q % 7) * 0.005f))
    }.toDF("query_id", "qvec").unionByName(oneQuery)
    val solo = Similarity.ivfPqTopK(encoded, oneQuery,
        "vec_id", "query_id", "qvec", ivf, cb, k = 5, nprobe = 1)
      .select("query_id", "vec_id", "dist").collect().map(_.toString).sorted
    val inBatch = Similarity.ivfPqTopK(encoded, batch,
        "vec_id", "query_id", "qvec", ivf, cb, k = 5, nprobe = 1)
      .filter($"query_id" === 0)
      .select("query_id", "vec_id", "dist").collect().map(_.toString).sorted
    inBatch shouldBe solo
  }

  test("semanticDedup keeps one member per semantic cluster; keepBest picks the scored copy") {
    // two tight semantic groups + two isolated vectors; group members are
    // near-identical directions (cosine > 0.999), the groups themselves and
    // the isolates are far apart
    def v(base: Array[Float], eps: Float) =
      base.zipWithIndex.map { case (x, i) => if (i == 1) x + eps else x }
    val gA = Array(1f, 0f, 0f, 0f)
    val gB = Array(0f, 0f, 1f, 0f)
    val vecs = Seq(
      (10L, v(gA, 0f)), (11L, v(gA, 0.01f)), (12L, v(gA, 0.02f)),
      (20L, v(gB, 0f)), (21L, v(gB, 0.01f)),
      (30L, Array(0f, 1f, 0f, 0f)),
      (40L, Array(0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val acc = spark.sparkContext.longAccumulator("skippedCells")
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      dim = 4, minCosine = 0.999, nlist = 4, maxCell = 100,
      skippedCells = Some(acc))
    out.select("vec_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(10L, 20L, 30L, 40L)
    acc.value shouldBe 0L
    // keep-best: highest score survives instead of least id; the
    // null-scored least ids 10 and 20 rank last (ORDER BY score DESC
    // NULLS LAST, id)
    val score = when(col("vec_id") === 11L || col("vec_id") === 21L, 9.0)
      .when(col("vec_id") === 10L || col("vec_id") === 20L, lit(null))
      .otherwise(1.0)
    val best = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      dim = 4, minCosine = 0.999, nlist = 4, keepBest = Some(score))
    best.select("vec_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(11L, 21L, 30L, 40L)
    // all original columns survive
    out.columns.toSeq shouldBe Seq("vec_id", "embedding")
  }

  test("IVF index persists as a managed dataset and round-trips") {
    val base = tmpDir("ivf")
    val corpus = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(d => (i % 3 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val built = Similarity.buildIvfIndex(corpus, "embedding", nlist = 3)
    Similarity.saveIvfIndex(spark, base, "ivf", built)
    val loaded = Similarity.loadIvfIndex(spark, base, "ivf")
    loaded.nlist shouldBe built.nlist
    loaded.centroids.sortBy(_._1) shouldBe built.centroids.sortBy(_._1)
    // the loaded quantizer drives the same search
    val queries = corpus.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    Similarity.ivfTopKWithIndex(loaded, corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 3).count() shouldBe 3
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("c4Clean applies each line and page rule independently") {
    val goodLine = "one two three four five six." // >= 5 words, terminal punct
    val doc = (id: Long, extra: String) =>
      (id, Seq(goodLine, goodLine + "!", goodLine + "?", extra).mkString("\n"))
    val df = Seq(
      doc(1L, "no terminal punctuation here at all"), // extra line dropped, page kept
      doc(2L, "tiny line."),                          // < 5 words: line dropped
      doc(3L, "please enable JavaScript to continue."), // javascript: line dropped
      doc(4L, "this page mentions Lorem Ipsum somewhere."), // page killed
      doc(5L, "function f() { return 1; }"),          // curly brace: page killed
      (6L, goodLine + "\n" + goodLine + "!")          // only 2 kept lines: page killed
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(df, "doc_id", "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    out.keySet shouldBe Set(1L, 2L, 3L)
    // surviving pages carry exactly the three good lines, re-joined
    all(out.values) shouldBe Seq(goodLine, goodLine + "!", goodLine + "?").mkString("\n")
  }

  test("tokenCount / ratios / quality on hand-checked strings") {
    val df = Seq((1L, "The quick brown fox."), (2L, ""), (3L, "a!!! b??? c...")).toDF("id", "text")
    val out = TextAnalysis.documentStats(df, "id", "text").collect().map(r => r.getLong(0) -> r).toMap
    out(1L).getAs[Int]("n_tokens") shouldBe 4
    out(2L).getAs[Int]("n_tokens") shouldBe 0
    out(3L).getAs[Double]("punct_ratio") shouldBe (9.0 / 14) +- 1e-6
    out(1L).getAs[Double]("stopword_ratio") shouldBe 0.25 +- 1e-6 // "the"
  }

  test("langId picks the right profile for obvious text") {
    val df = Seq(
      (1L, "the cat and the dog are in the house of the king"),
      (2L, "der hund und die katze sind schön in einem haus"),
      (3L, "el perro y la casa de la madre en el jardín que"),
      (4L, "le chien de la maison est dans le jardin avec que"),
      (5L, "我是中国人我有一个人的")
    ).toDF("id", "text")
    val out = df.select($"id", TextAnalysis.langIdUdf($"text").as("l")).as[(Long, String)].collect().toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "de"
    out(3L) shouldBe "es"
    out(4L) shouldBe "fr"
    out(5L) shouldBe "zh"
  }

  test("unigramLogProb: common-token docs score higher than rare-token docs") {
    val docs = Seq(
      (1L, "the the the"),     // only the most frequent token
      (2L, "the quark"),       // one common + one hapax
      (3L, "zyx")              // lone hapax
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // corpus: the×4, quark×1, zyx×1 → N=6, V=3, denom=9
    val pThe = math.log10(5.0 / 9)
    val pHapax = math.log10(2.0 / 9)
    out(0)._2 shouldBe pThe +- 1e-12
    out(1)._2 shouldBe ((pThe + pHapax) / 2) +- 1e-12
    out(2)._2 shouldBe pHapax +- 1e-12
    out(0)._2 should be > out(1)._2
    out(1)._2 should be > out(2)._2
  }

  test("redactPii replaces emails, IPs and phone shapes; cleanText normalizes") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@corp.example.org today"),
      (2L, "server 10.0.255.7 port open"),
      (3L, "call 555-123-4567 or 555 987 6543"),
      (4L, "nothing sensitive here"),
      (5L, "combining: é and a \u0007 bell") // NFC + control strip
    ).toDF("id", "text")
    val got = df.select($"id", TextAnalysis.cleanText($"text").as("t"))
      .as[(Long, String)].collect().toMap
    got(1L) shouldBe "mail me at <EMAIL> today"
    got(2L) shouldBe "server <IP> port open"
    got(3L) shouldBe "call <PHONE> or <PHONE>"
    got(4L) shouldBe "nothing sensitive here"
    got(5L) shouldBe "combining: é and a  bell"
  }

  test("embeddingDedupCC collapses transitive chains to the min id") {
    // A~B and B~C are close; A~C less so — CC still collapses all three
    val vecs = Seq(
      (1L, Array(1.0f, 0.00f, 0f, 0f)),
      (2L, Array(1.0f, 0.05f, 0f, 0f)),
      (3L, Array(1.0f, 0.10f, 0f, 0f)),
      (4L, Array(0.0f, 0.0f, 1f, 0f)) // far away, survives
    ).toDF("vec_id", "embedding")
    val out = Similarity.embeddingDedupCC(vecs, "vec_id", "embedding",
      dim = 4, minCosine = 0.995, bits = 2, maxBucket = 100)
    out.select("vec_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 4L)
  }

  test("paragraphDedup keeps the globally-first occurrence, preserves layout") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "shared header\n\nunique body one"),
      (2L, "shared header\n\nunique body two"),
      (3L, "SHARED   header") // normalization: case + whitespace runs
    ).toDF("id", "text")
    val out = graft.ops.Dedup.paragraphDedup(df, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    // doc 1 keeps everything; docs 2 and 3 lose the shared paragraph, blank
    // lines survive as layout
    out shouldBe Array(
      (1L, "shared header\n\nunique body one"),
      (2L, "\nunique body two"))
    // doc 3 was ONLY the duplicate paragraph → drops out entirely
  }

  test("repetition fractions: hand-checked duplicate lines and bigrams") {
    import org.apache.spark.sql.functions.col
    // 4 lines, "dup line" twice → dup_line_frac 1/4; line chars 8+10+8+7=33,
    // distinct 25 → char frac 8/33. Bigrams of "a b a b a":
    // [a b, b a, a b, b a] → 2 distinct of 4 → 0.5
    val df = Seq(
      (1L, "dup line\nunique one\ndup line\nanother"),
      (2L, "a b a b a"),
      (3L, "")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.dupLineFraction(col("text")).as("lf"),
      TextAnalysis.dupLineCharFraction(col("text")).as("cf"),
      TextAnalysis.dupBigramFraction(col("text")).as("bf"))
      .orderBy("id").collect()
    out(0).getDouble(1) shouldBe 0.25 +- 1e-9
    out(0).getDouble(2) shouldBe (8.0 / 33.0) +- 1e-9
    out(1).getDouble(1) shouldBe 0.0
    out(1).getDouble(3) shouldBe 0.5 +- 1e-9
    out(2).getDouble(1) shouldBe 0.0
    out(2).getDouble(2) shouldBe 0.0
    out(2).getDouble(3) shouldBe 0.0
  }

  test("fingerprint is whitespace/case robust") {
    val df = Seq(Tuple1("a  B\tc"), Tuple1("A B C")).toDF("text")
    val fps = df.select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    fps(0) shouldBe fps(1)
  }

  test("bigramLogProb: fluent sequences outscore rare ones; hand-checked math") {
    val df = Seq(
      (1L, "a b"),       // bigram (a,b)
      (2L, "a b"),       // repeated → (a,b) frequent
      (3L, "a c"),       // rare continuation of a
      (4L, "solo")       // no bigram
    ).toDF("id", "text")
    val out = TextAnalysis.bigramLogProb(df, "id", "text", lambda = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: tokens a,b,a,b,a,c,solo → N=7, c(a)=3, c(b)=2, c(c)=1
    // bigrams: (a,b)x2, (a,c)x1 → ctx(a)=3
    val lpAB = math.log(0.5 * 2.0 / 3.0 + 0.5 * 2.0 / 7.0)
    val lpAC = math.log(0.5 * 1.0 / 3.0 + 0.5 * 1.0 / 7.0)
    out(1L)._1 shouldBe 1L
    out(1L)._2 shouldBe lpAB +- 1e-12
    out(2L)._2 shouldBe lpAB +- 1e-12
    out(3L)._2 shouldBe lpAC +- 1e-12
    out(4L) shouldBe ((0L, 0.0))
    out(1L)._2 should be > out(3L)._2
  }

  test("tfIdfKeywords ranks distinctive terms over common ones, ties lexicographic") {
    val df = Seq(
      (1L, "spark spark spark common"),
      (2L, "duck duck common"),
      (3L, "goose common")
    ).toDF("id", "text")
    val out = TextAnalysis.tfIdfKeywords(df, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(-_._3).map(_._2).toSeq).toMap
    // the repeated distinctive term dominates; "common" (df=3) scores lowest
    byDoc(1L).head shouldBe "spark"
    byDoc(2L).head shouldBe "duck"
    byDoc(3L).head shouldBe "goose"
    // hand-check doc 3's goose score: tf=1, df=1, N=3 → ln(4/2)+1
    val goose = out.find(t => t._1 == 3L && t._2 == "goose").get._3
    goose shouldBe (math.log(2.0) + 1.0) +- 1e-9
    // k bounds the output per doc
    out.groupBy(_._1).foreach { case (_, rows) => rows.length should be <= 2 }
  }
}

class QualityModelSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.QualityModel

  private def corpus(n: Int): Seq[(Long, String, Int)] = {
    val good = Array("insightful", "analysis", "thorough", "evidence", "study")
    val bad = Array("click", "free", "winner", "prize", "buy")
    (0 until n).map { i =>
      val words = if (i % 2 == 0) good else bad
      val text = (0 until 12).map(j => words((i + j * j) % words.length)).mkString(" ")
      (i.toLong, text, if (i % 2 == 0) 1 else 0)
    }
  }

  test("classifier separates disjoint vocabularies and generalizes") {
    val df = corpus(200).toDF("id", "text", "label")
    val model = QualityModel.train(df, "text", "label")
    val scored = QualityModel.score(df, "text", model)
    val acc = scored.filter(
      (col("quality_prob") >= 0.5 && col("label") === 1) ||
        (col("quality_prob") < 0.5 && col("label") === 0)).count()
    acc shouldBe 200L
    // unseen docs from the same vocabularies classify correctly
    val fresh = Seq((900L, "thorough evidence analysis insightful study evidence"),
      (901L, "buy free prize winner click free buy")).toDF("id", "text")
    val m = QualityModel.score(fresh, "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    m(900L) should be > 0.8
    m(901L) should be < 0.2
    // filterByQuality keeps exactly the high side
    QualityModel.filterByQuality(df, "text", model, 0.5).count() shouldBe 100L
  }

  test("bigram features are alive: order-only classes separate") {
    // identical unigram bags, opposite order — ONLY the bigram channel can
    // separate these (regression: a slice-length overflow once silently
    // emptied the bigram array)
    val df = (0 until 80).map(i =>
      (i.toLong, if (i % 2 == 0) "alpha beta alpha beta" else "beta alpha beta alpha",
        i % 2)).toDF("id", "text", "label")
    val model = QualityModel.train(df, "text", "label")
    val acc = QualityModel.score(df, "text", model).filter(
      (col("quality_prob") >= 0.5 && col("label") === 1) ||
        (col("quality_prob") < 0.5 && col("label") === 0)).count()
    acc shouldBe 80L
  }

  test("scoring is a narrow map — no shuffle — and the model round-trips") {
    val df = corpus(40).toDF("id", "text", "label")
    val model = QualityModel.train(df, "text", "label")
    val plan = QualityModel.score(df, "text", model).queryExecution.executedPlan.toString
    plan should not include "Exchange"
    val dir = tmpDir("qmodel")
    QualityModel.saveModel(spark, model, s"$dir/quality_model")
    val back = QualityModel.loadModel(spark, s"$dir/quality_model")
    back.numFeatures shouldBe model.numFeatures
    back.useBigrams shouldBe model.useBigrams
    val a = QualityModel.score(df, "text", model).select("quality_prob").as[Double].collect()
    val b = QualityModel.score(df, "text", back).select("quality_prob").as[Double].collect()
    a.zip(b).foreach { case (x, y) => x shouldBe y +- 1e-12 }
    // driver-side scorer agrees with the distributed path
    val one = QualityModel.score(Seq((1L, "insightful study")).toDF("id", "text"), "text", model)
      .select("quality_prob").as[Double].head()
    model.scoreTokens(Seq("insightful", "study")) shouldBe one +- 1e-9
  }

  test("scoreReplayable computes the same dot-product semantics as score") {
    // a fixed vocabulary whose per-word values are planted into BOTH
    // weight layouts — murmur3/HashingTF indices for the production path,
    // md5 indices for the replayable path. With collision-free indices
    // (asserted) the two scores must agree on any doc over the vocab: the
    // only difference is WHERE each word's weight lives, not the math.
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val value = vocab.zipWithIndex.map { case (w, i) => w -> ((i * 5) % 7 - 3) / 8.0 }.toMap
    val nf = 512
    val tf = new org.apache.spark.ml.feature.HashingTF().setNumFeatures(nf)
    val murmurIdx = vocab.map(tf.indexOf)
    murmurIdx.distinct.size shouldBe vocab.size // collision-free
    def md5Idx(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(d.take(15), 16) % nf).toInt
    }
    val md5Idxs = vocab.map(md5Idx)
    md5Idxs.distinct.size shouldBe vocab.size // collision-free
    val wMurmur = Array.fill(nf)(0.0)
    vocab.zip(murmurIdx).foreach { case (w, i) => wMurmur(i) = value(w) }
    val wMd5 = Array.fill(nf)(0.0)
    vocab.zip(md5Idxs).foreach { case (w, i) => wMd5(i) = value(w) }
    val intercept = 0.25
    val prodModel = QualityModel.QualityClassifier(nf, useBigrams = false,
      intercept, org.apache.spark.ml.linalg.Vectors.dense(wMurmur))
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "zeta zeta epsilon delta ALPHA"), // repeats + case folding
      (3L, ""), (4L, null.asInstanceOf[String]), // empty bag = intercept only
      (5L, "delta")).toDF("id", "text")
    val prod = QualityModel.score(docs, "text", prodModel)
      .select("id", "quality_prob").as[(Long, Double)].collect().toMap
    val replay = QualityModel.scoreReplayable(docs, "text", wMd5.toSeq, intercept, scale = 9)
      .select("id", "quality_prob").as[(Long, Double)].collect().toMap
    prod.keySet shouldBe replay.keySet
    prod.foreach { case (id, p) => replay(id) shouldBe p +- 1e-9 }
    prod(3L) shouldBe (1.0 / (1.0 + math.exp(-intercept))) +- 1e-9
    // the replayable path is pure codegen: no UDF node, no shuffle
    val plan = QualityModel.scoreReplayable(docs, "text", wMd5.toSeq, intercept)
      .queryExecution.executedPlan.toString
    (plan should not).include("Exchange")
    (plan.toLowerCase should not).include("batchevalpython")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("attachMeta + extractFeatures + frame plan pipeline") {
    val df = Seq(
      (1L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10)),
      (2L, Array[Byte](-1, -2, -3))
    ).toDF("id", "blob")
    val withMeta = Multimodal.attachMeta(df, "blob", "image")
    // same field names/types (nullability differs for literal-derived fields)
    withMeta.schema("media_meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq shouldBe
      Multimodal.mediaMetaType.fields.map(f => (f.name, f.dataType)).toSeq

    val feats = Multimodal.extractFeatures(withMeta, "id", "blob")
    val f1 = feats.filter($"id" === 1).select("features").as[Seq[Double]].head()
    f1.length shouldBe 8
    f1 shouldBe Multimodal.decodeFeatures(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10)).toSeq
    // opaque payload (no codec): byte-value histogram — bytes 1..10 all
    // land in bin 0 (values < 32), fractions sum to 1
    f1.head shouldBe 1.0
    f1.drop(1).foreach(_ shouldBe 0.0)

    val frames = Multimodal.frameSamplePlan(withMeta, everyMs = 10, maxFrames = 4)
    frames.filter($"id" === 1)
      .select(org.apache.spark.sql.functions.size($"frame_ts_ms")).as[Int].head() shouldBe 4

    val resized = Multimodal.resizePlan(withMeta, 224, 224)
    resized.select($"media_meta.width").as[Int].head() shouldBe 224
  }

  test("decodeFeatures: grayscale histogram from REAL decoded pixels") {
    // a 16x16 gray PNG needs no resampling, so the 8-bin histogram is an
    // exact pixel-value count: 128 pixels of 10 (bin 0) + 128 of 200
    // (bin 6), each bin = 0.5
    val pixels = Array.tabulate(256)(i => if (i < 128) 10.toByte else 200.toByte)
    val png = Multimodal.encodeGrayPng(pixels, 16, 16)
    val f = Multimodal.decodeFeatures(png)
    f(0) shouldBe 0.5
    f(6) shouldBe 0.5
    f.sum shouldBe 1.0 +- 1e-9
    // WAV: RMS energy envelope over the real PCM samples — a half-silent,
    // half-full-scale clip has ~0 energy in windows 0-3 and ~1 in 4-7
    val sr = 8000
    val n = 1600
    val samples = Array.tabulate[Short](n)(i =>
      if (i < n / 2) 0 else if (i % 2 == 0) 32767 else -32767)
    val bytes = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val wf = Multimodal.decodeFeatures(out.toByteArray)
    wf.take(4).foreach(_ shouldBe 0.0 +- 1e-6)
    wf.drop(4).foreach(_ shouldBe 1.0 +- 1e-3)
  }

  test("real PNG codec: lossless gray round-trip, byte-exact mean luma") {
    val pixels = Array.tabulate(256)(i => (i % 251).toByte)
    val png = Multimodal.encodeGrayPng(pixels, 16, 16)
    Multimodal.sniffFormat(png) shouldBe Some("png")
    val Some((fmt, w, h, luma)) = Multimodal.decodeImageInfo(png)
    (fmt, w, h) shouldBe ("png", 16, 16)
    val expected = pixels.map(_ & 0xff).sum / 256.0 / 255.0
    luma shouldBe expected +- 1e-12
  }

  test("real resize re-encodes an actual payload with the target dims") {
    val png = Multimodal.encodeGrayPng(Array.fill(256)(100.toByte), 16, 16)
    val Some(small) = Multimodal.resizeImage(png, 8, 4, "png")
    val Some((_, w, h, luma)) = Multimodal.decodeImageInfo(small)
    (w, h) shouldBe ((8, 4))
    luma shouldBe 100.0 / 255.0 +- 0.02 // bilinear of a constant image
  }

  test("real JPEG decode: dims recovered from a JDK-encoded jpeg") {
    val img = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", out)
    val Some((fmt, w, h, _)) = Multimodal.decodeImageInfo(out.toByteArray)
    (fmt, w, h) shouldBe ("jpeg", 20, 10)
  }

  test("real WAV decode: rate/channels/duration/rms of a generated sine") {
    val rate = 8000
    val n = 8000 // 1 second
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 16384).toShort
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val Some((gotRate, ch, durMs, rms)) = Multimodal.decodeWavInfo(out.toByteArray)
    (gotRate, ch, durMs) shouldBe ((8000, 1, 1000L))
    rms shouldBe (16384.0 / 32768.0 / math.sqrt(2)) +- 0.01
  }

  test("extractImageInfo: real decode for media, stub fallback for junk") {
    val png = Multimodal.textToGrayPng("hello world", 16, 16)
    val df = Seq((1L, png), (2L, Array[Byte](9, 9, 9, 9))).toDF("id", "blob")
    val rows = Multimodal.extractImageInfo(df, "id", "blob")
      .collect().map(r => r.getLong(0) -> r).toMap
    rows(1L).getString(1) shouldBe "png"
    rows(1L).getInt(2) shouldBe 16
    rows(2L).isNullAt(1) shouldBe true // junk → stub path
  }

  // deterministic synthetic photo: smooth 2-D gradient + per-image phase,
  // structured enough that dHash bits carry signal (flat images hash to 0)
  private def syntheticPng(seed: Int, w: Int = 36, h: Int = 32): Array[Byte] = {
    val px = Array.tabulate(w * h) { i =>
      val (x, y) = (i % w, i / w)
      (128 + 90 * math.sin(x * 0.4 + seed * 1.7) * math.cos(y * 0.3 + seed)).toInt
        .max(0).min(255).toByte
    }
    Multimodal.encodeGrayPng(px, w, h)
  }

  private def perturbed(png: Array[Byte], flips: Int): Array[Byte] = {
    // re-decode, nudge a few pixels, re-encode — a lossy-ish near-dup
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val r = img.getRaster
    (0 until flips).foreach { k =>
      val (x, y) = (3 + k * 5 % img.getWidth, (7 * k) % img.getHeight)
      r.setSample(x, y, 0, (r.getSample(x, y, 0) + 40).min(255))
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("imageDHash: deterministic, robust to small perturbation, distinct across images") {
    val a = syntheticPng(1); val b = syntheticPng(2)
    val Some(ha) = Multimodal.imageDHash(a)
    Multimodal.imageDHash(a) shouldBe Some(ha) // deterministic
    val Some(hb) = Multimodal.imageDHash(b)
    java.lang.Long.bitCount(ha ^ hb) should be > 8 // different content, far apart
    val Some(hn) = Multimodal.imageDHash(perturbed(a, 2))
    java.lang.Long.bitCount(ha ^ hn) should be <= 3 // near-dup, close
    // resize robustness: the same image served at 2x resolution hashes close
    val Some(big) = Multimodal.resizeImage(a, 72, 64, "png")
    val Some(hr) = Multimodal.imageDHash(big)
    java.lang.Long.bitCount(ha ^ hr) should be <= 6
    Multimodal.imageDHash(Array[Byte](1, 2, 3)) shouldBe None // undecodable
  }

  test("dedupImagesNearDup drops planted near-dups, keeps distinct + undecodable") {
    val rows = Seq(
      (1L, syntheticPng(1)),
      (2L, perturbed(syntheticPng(1), 2)),   // near-dup of 1 -> dropped
      (3L, syntheticPng(5)),
      (4L, perturbed(syntheticPng(5), 1)),   // near-dup of 3 -> dropped
      (5L, syntheticPng(9)),                  // distinct -> kept
      (6L, Array[Byte](9, 9, 9))              // undecodable -> ALWAYS kept
    ).toDF("id", "img")
    val kept = Multimodal.dedupImagesNearDup(rows, "id", "img", maxHamming = 3)
      .select("id").as[Long].collect().toSeq.sorted
    kept shouldBe Seq(1L, 3L, 5L, 6L)
    // candidate pairs carry the verified Hamming distance
    val pairs = Multimodal.nearDupImagePairs(rows, "id", "img", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    pairs.map(p => (p._1, p._2)) shouldBe Seq((1L, 2L), (3L, 4L))
    pairs.foreach(_._3 should be <= 3)
  }

  // deterministic synthetic WAV: a 440 Hz carrier whose AMPLITUDE follows a
  // per-window envelope keyed by the seed — temporal structure the
  // energy-difference fingerprint can see
  private def syntheticWav(seed: Int, gain: Double = 1.0, noise: Double = 0.0): Array[Byte] = {
    val rate = 8000
    val perWindow = 64
    val n = 65 * perWindow
    val rnd = new scala.util.Random(12345) // FIXED stream: same "noise" shape
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val w = i / perWindow
      val env = 0.15 + 0.8 * math.abs(math.sin(w * (0.37 + seed * 0.61) + seed))
      val v = gain * (env * math.sin(2 * math.Pi * 440 * i / rate) +
        noise * (rnd.nextDouble() - 0.5))
      val s16 = (v * 16384).toInt.max(-32768).min(32767).toShort
      data(2 * i) = (s16 & 0xff).toByte
      data(2 * i + 1) = ((s16 >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audioFingerprint: gain-invariant, noise-robust, distinct across envelopes") {
    val a = syntheticWav(1)
    val Some(ha) = Multimodal.audioFingerprint(a)
    // uniform gain scales every window energy equally: identical fingerprint
    Multimodal.audioFingerprint(syntheticWav(1, gain = 0.4)) shouldBe Some(ha)
    // small additive noise: close in Hamming space
    val Some(hn) = Multimodal.audioFingerprint(syntheticWav(1, noise = 0.02))
    java.lang.Long.bitCount(ha ^ hn) should be <= 3
    // different temporal envelope: far
    val Some(hb) = Multimodal.audioFingerprint(syntheticWav(7))
    java.lang.Long.bitCount(ha ^ hb) should be > 8
    Multimodal.audioFingerprint(Array[Byte](1, 2, 3)) shouldBe None // not WAV
  }

  test("dedupAudioNearDup drops planted near-dup recordings, keeps distinct + undecodable") {
    val rows = Seq(
      (1L, syntheticWav(1)),
      (2L, syntheticWav(1, gain = 0.5)),        // same recording, re-leveled -> dropped
      (3L, syntheticWav(1, noise = 0.02)),      // noisy copy -> dropped
      (4L, syntheticWav(7)),                    // distinct -> kept
      (5L, Array[Byte](1, 2, 3))                // undecodable -> ALWAYS kept
    ).toDF("id", "wav")
    Multimodal.dedupAudioNearDup(rows, "id", "wav", maxHamming = 3)
      .select("id").as[Long].collect().toSeq.sorted shouldBe Seq(1L, 4L, 5L)
  }
}
