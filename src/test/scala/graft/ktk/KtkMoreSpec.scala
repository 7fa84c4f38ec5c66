package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import graft.cube.{Cube, CubeDef}
import org.apache.spark.sql.functions._

/** Coverage for the remaining io surface: iterator backend, cube extend +
  * stats, multi-commit overlays, dataset hashing.
  */
class KtkMoreSpec extends SparkSpec {
  import spark.implicits._

  test("iterator backend yields the same rows as the full read") {
    val base = tmpDir("ktk")
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("p", "v")
    Ktk.store(spark, base, "it", df, partitionOn = Seq("p"))
    val viaIter = Ktk.readTableAsIterator(spark, base, "it").map(_.getString(1)).toSeq.sorted
    viaIter shouldBe Seq("a", "b", "c")
  }

  test("indexOn yields range-partitioned sorted output; labelFilter restricts listing") {
    val base = tmpDir("ktk")
    val df = (0 until 100).map(i => (i % 4, i.toLong)).toDF("p", "k")
    Ktk.store(spark, base, "ix", df, partitionOn = Seq("p"))
    val sorted = Ktk.readTable(spark, base, "ix", indexOn = Some("k"))
    // sorted within partitions, ranges ordered -> global order by k
    sorted.select("k").as[Long].collect().toSeq shouldBe (0L until 100L)
    val only0 = Ktk.readTable(spark, base, "ix", labelFilter = _.startsWith("p=0/"))
    only0.select("p").as[Long].collect().toSet shouldBe Set(0L)
    // filter_query: arbitrary SQL expression; exclusive with predicates
    Ktk.readTable(spark, base, "ix", filterQuery = Some("k % 10 = 0")).count() shouldBe 10
    an[IllegalArgumentException] should be thrownBy
      Ktk.readTable(spark, base, "ix", predicates = graft.core.Predicates.of(Seq(("p", "==", 0))),
        filterQuery = Some("k > 0"))
  }

  test("cube extend adds an enrichment dataset; payload overlap still banned") {
    val base = tmpDir("cube")
    val cube = CubeDef("x", Seq("k"), Seq("p"))
    Cube.build(spark, base, cube, Map("seed" -> Seq((1, 0, 10.0), (2, 1, 20.0)).toDF("k", "p", "v")))
    Cube.extend(spark, base, cube, Map("extra" -> Seq((1, 0, "meta1")).toDF("k", "p", "m")))
    val out = Cube.query(spark, base, cube)
    out.columns.toSeq shouldBe Seq("k", "p", "m", "v")
    out.count() shouldBe 2
    out.filter($"k" === 1).select("m").as[String].head() shouldBe "meta1"
    // extending with a payload column the seed already exposes must fail
    an[IllegalArgumentException] should be thrownBy
      Cube.extend(spark, base, cube, Map("bad" -> Seq((1, 0, 9.9)).toDF("k", "p", "v")))
  }

  test("multi-commit overlay: second update wins over first") {
    val base = tmpDir("cube")
    val cube = CubeDef("m", Seq("k"), Seq("p"))
    Cube.build(spark, base, cube, Map("seed" -> Seq((1, 0, "v0")).toDF("k", "p", "v")))
    Cube.append(spark, base, cube, Map("seed" -> Seq((1, 0, "v1")).toDF("k", "p", "v")))
    Cube.append(spark, base, cube, Map("seed" -> Seq((1, 0, "v2")).toDF("k", "p", "v")))
    Cube.query(spark, base, cube).select("v").as[String].head() shouldBe "v2"
    // commit sequence numbers are monotone in the metadata
    val md = DatasetMetadata.load(spark, base, "m++seed")
    md.partitions.keys.map(md.seqOf).toSet shouldBe Set(0L, 1L, 2L)
  }

  test("collectStats aggregates per cube dataset") {
    val base = tmpDir("cube")
    val cube = CubeDef("s", Seq("k"), Seq("p"))
    Cube.build(spark, base, cube, Map(
      "seed" -> Seq((1, 0, 1.0), (2, 1, 2.0)).toDF("k", "p", "v"),
      "e" -> Seq((1, 0, "x")).toDF("k", "p", "w")))
    val stats = Cube.collectStats(spark, base, cube).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    stats("seed") shouldBe 2
    stats("e") shouldBe 1
  }

  test("hashDataset is order-invariant and content-sensitive") {
    val a = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val b = Seq((2, "y"), (1, "x")).toDF("k", "v") // same content, other order
    val c = Seq((1, "x"), (2, "z")).toDF("k", "v")
    val ha = Ktk.hashDataset(a, Nil).head.getLong(0)
    Ktk.hashDataset(b, Nil).head.getLong(0) shouldBe ha
    Ktk.hashDataset(c, Nil).head.getLong(0) should not be ha
  }

  test("md5RowHash reproduces the engine-portable fingerprint bit-for-bit") {
    // the portable variant (q_hash_dataset's oracle form): first 60 bits
    // of md5 of the '|'-joined string casts — recompute via JDK
    // MessageDigest and match the full hashDataset fold
    val df = Seq((1, "x"), (2, "y")).toDF("k", "v")
    def jdk(row: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(row.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val want = (jdk("1|x") + jdk("2|y")) % Long.MaxValue
    val got = Ktk.hashDataset(df, Nil, hashExpr = Some(Ktk.md5RowHash(df)))
      .head.getLong(0)
    got shouldBe want
    // and the variant stays order-invariant like the default
    val rev = Seq((2, "y"), (1, "x")).toDF("k", "v")
    Ktk.hashDataset(rev, Nil, hashExpr = Some(Ktk.md5RowHash(rev)))
      .head.getLong(0) shouldBe want
  }

  test("addZoneMaps retrofits skipping onto an existing dataset") {
    val base = tmpDir("zones")
    val df = (0 until 90).map(i => (i / 30, i.toLong, i * 2.0)).toDF("p", "k", "x")
    Ktk.store(spark, base, "zm", df, partitionOn = Seq("p"))
    val md = Ktk.addZoneMaps(spark, base, "zm", Seq("k"))
    md.zoneRegistry.keySet shouldBe Set("k")
    Ktk.zoneMapOf(spark, base, md, "k").size shouldBe md.partitions.size
    // k ∈ [60, 89] lives only under p=2 → range predicate prunes to it
    val labels = Ktk.queryLabels(spark, base, md,
      graft.core.Predicates.of(Seq(("k", ">=", 75L))))
    labels.forall(_.startsWith("p=2/")) shouldBe true
    Ktk.readTable(spark, base, "zm",
      predicates = graft.core.Predicates.of(Seq(("k", ">=", 75L)))).count() shouldBe 15
  }

  test("legacy inline zone maps still prune, and migrate to sidecar on update") {
    // every writer migrates inside the commit step: update and merge alike
    val writers: Seq[(String, (String, org.apache.spark.sql.DataFrame) => DatasetMetadata)] = Seq(
      "update" -> ((base, batch) => Ktk.update(spark, base, "zl", Some(batch))),
      "merge" -> ((base, batch) => Ktk.merge(spark, base, "zl", batch, keys = Seq("k"))._1))
    writers.foreach { case (name, write) =>
      withClue(s"$name: ") {
        val base = tmpDir("zonesleg")
        val df = (0 until 90).map(i => (i / 30, i.toLong, i * 2.0)).toDF("p", "k", "x")
        val md0 = Ktk.store(spark, base, "zl", df, partitionOn = Seq("p"), zoneMapFor = Seq("k"))
        // forge a PRE-SIDECAR blob: ranges inline, no registry, no sidecar dir
        val inline = Ktk.zoneMapOf(spark, base, md0, "k")
        inline should not be empty
        DatasetMetadata.store(spark, base,
          md0.copy(zoneMaps = Map("k" -> inline), zones = Map.empty))
        DatasetMetadata.fs(spark, base)
          .delete(new org.apache.hadoop.fs.Path(s"$base/zl/zones"), true)
        // legacy read path: inline ranges prune without a sidecar
        val mdLegacy = DatasetMetadata.load(spark, base, "zl")
        mdLegacy.inlineZoneMaps.keySet shouldBe Set("k")
        Ktk.queryLabels(spark, base, mdLegacy,
            graft.core.Predicates.of(Seq(("k", ">=", 75L))))
          .forall(_.startsWith("p=2/")) shouldBe true
        // first mutating op migrates inline → sidecar; pruning still exact
        val md2 = write(base, Seq((3, 200L, 1.0)).toDF("p", "k", "x"))
        md2.inlineZoneMaps shouldBe empty
        md2.zoneRegistry.keySet shouldBe Set("k")
        Ktk.zoneMapOf(spark, base, md2, "k").size shouldBe md2.partitions.size
        val labels = Ktk.queryLabels(spark, base, md2,
          graft.core.Predicates.of(Seq(("k", ">=", 150L))))
        labels.forall(_.startsWith("p=3/")) shouldBe true
        Ktk.readTable(spark, base, "zl",
          predicates = graft.core.Predicates.of(Seq(("k", ">=", 75L)))).count() shouldBe 16
      }
    }
  }

  test("csv roundtrip preserves content with explicit schema") {
    val base = tmpDir("csv")
    val df = Seq((1L, "north america"), (2L, "euro;pe")).toDF("id", "name")
    df.write.option("sep", ";").option("header", "true").option("quote", "\"").csv(s"$base/out")
    val back = spark.read.option("sep", ";").option("header", "true").option("quote", "\"")
      .schema("id LONG, name STRING").csv(s"$base/out")
    back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "north america"), (2L, "euro;pe"))
  }
}
