package graft.ktk

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Merge key-set pruning: a collected CDC batch must NOT scan every file.
  * Single-column keys prune through one IN; multi-column keys prune
  * through a CONJUNCTION of per-key-column INs (partition values + zone
  * maps) — a clustered two-key batch touches only the files whose stats
  * intersect every key column's value set. `Ktk.lastMergeCandidates`
  * records the planned scan set size so these properties cannot silently
  * regress to full-table scans.
  */
class MergePruneSpec extends SparkSpec {
  import spark.implicits._

  // 4 partitions (p=a..d) x 4 files each, k RANGE-partitioned so each
  // file's zone map covers a disjoint k interval (tight pruning through
  // k's zones, on top of the p envelope's partition pruning)
  private def seed(base: String): DatasetMetadata = {
    val df = (0 until 1600).map { i =>
      (i.toLong, ("abcd" (i / 400)).toString, i * 1.0)
    }.toDF("k", "p", "v")
    Ktk.store(spark, base, "ds",
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      partitionOn = Seq("p"), sortBy = Seq("k"), zoneMapFor = Seq("k"))
  }

  test("clustered two-key batch prunes candidates below the full label set") {
    val base = tmpDir("mprune")
    val md = seed(base)
    val total = md.partitions.size
    total should be >= 8
    // batch clustered in p=b, k in [400, 410): one partition dir, few zones
    val batch = (400 until 410).map(i => (i.toLong, "b", -1.0)).toDF("k", "p", "v")
    Ktk.merge(spark, base, "ds", batch, keys = Seq("k", "p"))
    val candidates = Ktk.lastMergeCandidates.get()
    candidates should be >= 1
    candidates should be < total
    // and the merge is still exact: the 10 rows were replaced
    val got = Ktk.readTable(spark, base, "ds",
      predicates = graft.core.Predicates.of(Seq(("p", "==", "b"))))
      .filter(org.apache.spark.sql.functions.col("k") < 410 &&
        org.apache.spark.sql.functions.col("k") >= 400)
      .select("v").as[Double].collect().toSeq
    got.size shouldBe 10
    all(got) shouldBe -1.0
  }

  test("uncollectable key sets fall back to the full scan, still exact") {
    val base = tmpDir("mprune")
    val md = seed(base)
    val batch = (0 until 40).map(i => (i.toLong * 40, ("abcd" ((i * 40) / 400)).toString, -2.0))
      .toDF("k", "p", "v")
    Ktk.merge(spark, base, "ds", batch, keys = Seq("k", "p"), maxCollectKeys = 5)
    Ktk.lastMergeCandidates.get() shouldBe md.partitions.size
    Ktk.readTable(spark, base, "ds")
      .filter(org.apache.spark.sql.functions.col("v") === -2.0)
      .count() shouldBe 40
  }

  test("clustered uncollectable batch prunes through its range envelope") {
    val base = tmpDir("mprune")
    val md = seed(base)
    val total = md.partitions.size
    // 20 distinct keys > maxCollectKeys=5, but clustered in p=b, k in
    // [400, 420): the min/max envelope prunes partitions + zone files
    val batch = (400 until 420).map(i => (i.toLong, "b", -4.0)).toDF("k", "p", "v")
    Ktk.merge(spark, base, "ds", batch, keys = Seq("k", "p"), maxCollectKeys = 5)
    val candidates = Ktk.lastMergeCandidates.get()
    candidates should be >= 1
    candidates should be < total
    val got = Ktk.readTable(spark, base, "ds")
      .filter(org.apache.spark.sql.functions.col("v") === -4.0)
      .count()
    got shouldBe 20L
  }

  test("a key column that collected only nulls matches nothing (no scan)") {
    val base = tmpDir("mprune")
    seed(base)
    val batch = Seq((null.asInstanceOf[java.lang.Long], "b", -3.0))
      .toDF("k", "p", "v")
    val (_, tombstoned) = Ktk.merge(spark, base, "ds",
      batch.filter("k is not null"), keys = Seq("k", "p"),
      deleteKeys = Some(batch.select("k", "p")))
    tombstoned shouldBe 0L
    Ktk.lastMergeCandidates.get() shouldBe 0
  }

  test("range envelope admits a -0.0 key against a [0.0, ..] batch (signed-zero widening)") {
    val base = tmpDir("mprune")
    // one file holds ONLY negative keys ending at -0.0 (its zone max);
    // the merge's semi join uses Spark equality where -0.0 = 0.0, so the
    // pruning order must too — otherwise the envelope [0.0, 19.0] would
    // prune this file, the -0.0 row would survive un-tombstoned, and the
    // merge would insert a duplicate key
    val df = ((-3 to 0).map(i => (if (i == 0) -0.0 else i.toDouble, "neg", 1.0)) ++
      (1 to 30).map(i => (i.toDouble, "pos", 1.0))).toDF("k", "p", "v")
    Ktk.store(spark, base, "ds", df, partitionOn = Seq("p"),
      sortBy = Seq("k"), zoneMapFor = Seq("k"))
    // 20 distinct keys > maxCollectKeys=5 forces the envelope path;
    // lo = 0.0 must admit the neg file's max -0.0
    val batch = (0 until 20).map(i => (i.toDouble, "pos", -9.0)).toDF("k", "p", "v")
    Ktk.merge(spark, base, "ds", batch, keys = Seq("k"), maxCollectKeys = 5)
    val zero = Ktk.readTable(spark, base, "ds")
      .filter(org.apache.spark.sql.functions.col("k") === 0.0)
    zero.count() shouldBe 1L // the old -0.0 row was tombstoned, not duplicated
    zero.select("v").as[Double].collect().head shouldBe -9.0
  }

  test("STRING-keyed uncollectable batch prunes through partition values + zone maps") {
    // LLM pipelines key on string doc ids — the flagship case must not
    // fall back to a full candidate scan. The string envelope prunes
    // through queryLabels like a numeric one: the index and zone probes
    // answer on the driver, so they add no Spark job to the merge.
    val base = tmpDir("mprune")
    val df = (0 until 1600).map { i =>
      (f"doc$i%06d", ("abcd" (i / 400)).toString, i * 1.0)
    }.toDF("sk", "p", "v")
    Ktk.store(spark, base, "ds",
      df.repartitionByRange(8, col("sk")).sortWithinPartitions("sk"),
      partitionOn = Seq("p"), sortBy = Seq("sk"), zoneMapFor = Seq("sk"),
      secondaryIndices = Seq("sk"))
    val total = DatasetMetadata.load(spark, base, "ds").partitions.size
    // 20 distinct keys > maxCollectKeys=5, clustered in p=b
    val batch = (400 until 420).map(i => (f"doc$i%06d", "b", -7.0)).toDF("sk", "p", "v")
    val (_, mergeJobs) =
      jobs(Ktk.merge(spark, base, "ds", batch, keys = Seq("sk", "p"), maxCollectKeys = 5))
    mergeJobs shouldBe 12
    val candidates = Ktk.lastMergeCandidates.get()
    candidates should be >= 1
    candidates should be < total
    Ktk.readTable(spark, base, "ds")
      .filter(org.apache.spark.sql.functions.col("v") === -7.0)
      .count() shouldBe 20L
  }

  test("string envelope stays exact where UTF-16 and UTF-8 orders diverge") {
    // U+FF61 ('｡') sorts ABOVE U+10000 ('𐀀') in UTF-16 code units
    // (0xFF61 > 0xD800 surrogate) but BELOW it in UTF-8 bytes
    // (EF BD A1 < F0 90 80 80) — a comparator mix-up here silently
    // un-tombstones a matched row and duplicates the key
    val base = tmpDir("mprune")
    val special = Seq("｡", new String(Character.toChars(0x10000)))
    val fillers = (0 until 8).map(i => s"a$i")
    val df = (special ++ fillers).zipWithIndex
      .map { case (k, i) => (k, if (i % 2 == 0) "x" else "y", 1.0) }
      .toDF("sk", "p", "v")
    Ktk.store(spark, base, "ds",
      df.repartitionByRange(4, col("sk")).sortWithinPartitions("sk"),
      partitionOn = Seq("p"), sortBy = Seq("sk"), zoneMapFor = Seq("sk"))
    // 10 distinct keys > maxCollectKeys=3 → envelope path; batch touches
    // BOTH divergence keys plus the fillers
    val batch = (special ++ fillers).map(k => (k, "z", -8.0)).toDF("sk", "p", "v")
    Ktk.merge(spark, base, "ds", batch, keys = Seq("sk"), maxCollectKeys = 3)
    val got = Ktk.readTable(spark, base, "ds")
    // every key appears exactly once, updated — no un-tombstoned survivor
    got.count() shouldBe 10L
    got.filter(org.apache.spark.sql.functions.col("v") === -8.0)
      .count() shouldBe 10L
  }

  test("Predicates.compare agrees with Spark's UTF8String order on arbitrary strings") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.unsafe.types.UTF8String
    // strings drawn to stress the divergence zones: BMP high code points,
    // surrogate-pair supplementary chars, empties, shared prefixes
    val unit: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.choose(0x20, 0xFFFD).map(cp => new String(Character.toChars(cp))),
      Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
      Gen.const(""))
    val str: Gen[String] = Gen.listOfN(3, unit).map(_.mkString)
    val prop = Prop.forAll(str, str) { (a, b) =>
      Integer.signum(graft.core.Predicates.compare(a, b)) ==
        Integer.signum(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
    // and numbers in Spark's double order: -0.0 equals 0.0
    graft.core.Predicates.compare(-0.0, 0.0) shouldBe 0
  }

  test("uncollectable envelope prunes through a secondary index on a numeric key, exactly") {
    // queryLabels' index layer consumes Ge/Le range literals (the lookup
    // evaluates them with Spark expressions over the index table) — pin
    // that the indexed-key fallback path both prunes and stays exact
    val base = tmpDir("mprune")
    val md0 = seed(base)
    Ktk.addIndex(spark, base, "ds", "k")
    val total = md0.partitions.size
    val batch = (400 until 420).map(i => (i.toLong, "b", -5.0)).toDF("k", "p", "v")
    Ktk.merge(spark, base, "ds", batch, keys = Seq("k", "p"), maxCollectKeys = 5)
    val candidates = Ktk.lastMergeCandidates.get()
    candidates should be >= 1
    candidates should be < total
    Ktk.readTable(spark, base, "ds")
      .filter(org.apache.spark.sql.functions.col("v") === -5.0)
      .count() shouldBe 20L
  }
}
