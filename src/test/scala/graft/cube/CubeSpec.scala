package graft.cube

import graft.SparkSpec
import graft.core.Predicates

/** Cube semantics, mirroring the reference's query_cube fixtures
  * (kartothek/io/testing/query_cube.py:85-378): fullrange join, sparse outer
  * (left) join, restrictive inner join, overlay keep-last update-wins.
  */
class CubeSpec extends SparkSpec {
  import spark.implicits._

  private val cube = CubeDef(uuidPrefix = "c", dimensionColumns = Seq("x", "y"), partitionColumns = Seq("p"))

  private def seed = Seq(
    (0, 0, 0, 10.0), (0, 1, 0, 20.0), (1, 0, 1, 30.0), (1, 1, 1, 40.0)
  ).toDF("x", "y", "p", "v1")

  private def enrich = Seq(
    (0, 0, 100L), (1, 1, 200L) // sparse: only two cells enriched
  ).toDF("x", "p", "v2")

  test("build + fullrange query: left join keeps all seed cells") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> enrich))
    val out = Cube.query(spark, base, cube)
    out.columns.toSeq shouldBe Seq("x", "y", "p", "v1", "v2")
    out.count() shouldBe 4
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), if (r.isNullAt(4)) null else r.getLong(4)))
    rows.toSeq shouldBe Seq(
      (0L, 0L, 0L, 10.0, 100L), (0L, 1L, 0L, 20.0, 100L),
      (1L, 0L, 1L, 30.0, 200L), (1L, 1L, 1L, 40.0, 200L))
  }

  test("condition on enrich exclusive payload makes it restrictive (inner)") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> Seq((0, 0, 100L)).toDF("x", "p", "v2")))
    // without condition: left join, all 4 seed rows
    Cube.query(spark, base, cube).count() shouldBe 4
    // with condition on v2 (exclusive payload of enrich): inner join
    val out = Cube.query(spark, base, cube, conditions = Predicates.of(Seq(("v2", ">=", 100))))
    out.select("x").as[Long].collect().toSeq.sorted shouldBe Seq(0L, 0L)
  }

  test("condition on a column outside an explicit payload filters rows, stays out of output") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> enrich))
    val out = Cube.query(spark, base, cube,
      conditions = Predicates.of(Seq(("v2", ">=", 150))), payload = Seq("v1"))
    out.columns.toSeq shouldBe Seq("x", "y", "p", "v1")
    out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 0L), (1L, 1L))
  }

  test("partition_by on an enrich-exclusive payload forces an inner join") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> Seq((0, 0, 100L)).toDF("x", "p", "v2")))
    // partitionBy v2 (exclusive to enrich): null groups would be
    // meaningless, so the join must flip to inner (query/__init__.py:101-138)
    val out = Cube.query(spark, base, cube, partitionBy = Seq("v2"))
    out.select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((0L, 0L), (0L, 1L))
  }

  test("sortOutput=false keeps identical content without the global sort") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> enrich))
    val sorted = Cube.query(spark, base, cube).collect().map(_.toSeq).toSet
    val unsorted = Cube.query(spark, base, cube, sortOutput = false)
    unsorted.collect().map(_.toSeq).toSet shouldBe sorted
    unsorted.queryExecution.executedPlan.toString should not include "rangepartitioning"
  }

  test("conditions prune partitions AND filter payload") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> enrich))
    val out = Cube.query(spark, base, cube, conditions = Predicates.of(Seq(("p", "==", 1), ("v1", ">", 35.0))))
    out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 1L))
  }

  test("overlay keep-last: appended partitions override (update-wins)") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed))
    // re-append cell (0,0,p=0) with a new value; keep-last must pick 99.0
    Cube.append(spark, base, cube, Map("seed" -> Seq((0, 0, 0, 99.0)).toDF("x", "y", "p", "v1")))
    val out = Cube.query(spark, base, cube)
    out.count() shouldBe 4
    out.filter($"x" === 0 && $"y" === 0).select("v1").as[Double].head() shouldBe 99.0
  }

  test("payload overlap across datasets is rejected") {
    val base = tmpDir("cube")
    an[IllegalArgumentException] should be thrownBy
      Cube.build(spark, base, cube, Map(
        "seed" -> seed,
        "other" -> Seq((0, 0, 5.0)).toDF("x", "p", "v1"))) // v1 already in seed
  }

  test("duplicate cells on (partition + dims) are rejected") {
    val base = tmpDir("cube")
    val dup = Seq((0, 0, 0, 1.0), (0, 0, 0, 2.0)).toDF("x", "y", "p", "v1")
    an[IllegalArgumentException] should be thrownBy
      Cube.build(spark, base, cube, Map("seed" -> dup))
  }

  test("remove partitions by condition") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed))
    Cube.removePartitions(spark, base, cube, Seq("seed"), Predicates.of(Seq(("p", "==", 0))))
    Cube.query(spark, base, cube).select("p").as[Long].collect().toSeq.distinct shouldBe Seq(1L)
  }

  test("failed build rolls back already-written datasets") {
    val base = tmpDir("cube")
    val dupEnrich = Seq((0, 0, 1L), (0, 0, 2L)).toDF("x", "p", "v2") // dup cells -> fails
    an[IllegalArgumentException] should be thrownBy
      Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> dupEnrich))
    // nothing must remain discoverable
    Cube.discover(spark, base, cube) shouldBe Map.empty
  }

  test("queryByPartition yields one frame per group with only that group's rows") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed))
    val groups = Cube.queryByPartition(spark, base, cube, partitionBy = Seq("p"))
    groups.map(_._1("p")) shouldBe Seq(0L, 1L)
    groups.foreach { case (values, df) =>
      df.select("p").as[Long].collect().toSet shouldBe Set(values("p").asInstanceOf[Long])
    }
    groups.map(_._2.count()).sum shouldBe 4
  }

  test("queryByPartition's groups share one compiled class") {
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" ->
      (0 until 6).flatMap(x => Seq((x, 0, 0, x * 1.0), (x, 1, 1, x * 2.0))).toDF("x", "y", "p", "v1")))
    // a dimension group column: its filter runs in generated code, not in
    // partition pruning
    val groups = Cube.queryByPartition(spark, base, cube, partitionBy = Seq("x"))
    groups.map(_._1("x")) shouldBe (0L until 6L)
    groups.head._2.collect()
    val (counts, n) = compiles(groups.tail.map(_._2.collect().length))
    counts shouldBe Seq.fill(5)(2)
    n shouldBe 0
  }

  test("cube query composes with row-level deletes on member datasets") {
    import graft.ktk.Ktk
    val base = tmpDir("cube")
    Cube.build(spark, base, cube, Map("seed" -> seed, "enrich" -> enrich))
    // GDPR-style delete of one seed CELL via deletion vectors — no file
    // rewrite; the cube read path must not resurrect it
    Ktk.deleteRows(spark, base, "c++seed",
      predicates = Predicates.of(Seq(("v1", "==", 30.0))))
    val out = Cube.query(spark, base, cube)
    out.count() shouldBe 3
    out.filter($"v1" === 30.0).count() shouldBe 0
    // enrichment deletes drop the enrichment, seed rows read null
    Ktk.deleteRows(spark, base, "c++enrich",
      predicates = Predicates.of(Seq(("v2", "==", 100L))))
    val rows = Cube.query(spark, base, cube).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(4)) null else r.getLong(4)))
    rows.toSeq.sortBy(t => (t._1, t._2)) shouldBe Seq(
      (0L, 0L, null), (0L, 1L, null), (1L, 1L, 200L))
  }

  test("dedupKeepLast within one file keeps the later row") {
    val df = Seq((1, "old"), (1, "new"), (2, "only")).toDF("k", "v")
    val out = Cube.dedupKeepLast(df, Seq("k")).orderBy("k").collect().map(_.getString(1)).toSeq
    out shouldBe Seq("new", "only")
  }
}
