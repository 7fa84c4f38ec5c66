package perfbench

import org.apache.spark.sql.functions._

import graft.core.{PredLiteral, PredOp, Predicates}
import graft.cube.{Cube, CubeDef}
import graft.ktk.{DatasetMetadata, Ktk}

/** Few large labels read whole: filtered group-by aggregations through the
  * DSv2 source, and cube queries joining a seed and an enrichment dataset.
  */
final class ScanAggregate(rows: Int, labels: Int, cubeRows: Int, seed: Long) {
  import ScanAggregate._

  private val name = "scan_dedup"
  private val uuid = "facts"
  // the queries condition on the partition column and a payload column, so
  // the seed's default dimension indices would only add set-up work
  private val cube = CubeDef(uuidPrefix = "cube", dimensionColumns = Seq("x", "y"), partitionColumns = Seq("p"),
    suppressIndexOn = Seq("x", "y"))
  private var dir = ""

  private lazy val facts: Array[Fact] = Array.tabulate(rows)(i => fact(seed, labels)(i.toLong))
  private lazy val seedRows: Array[SeedRow] = Array.tabulate(cubeRows)(i => seedRow(seed)(i.toLong))
  private lazy val enrich: Map[(Int, Int), Long] =
    (for (p <- 0 until CubeParts; x <- 0 until CubeX; v <- enrichValue(seed)(p, x)) yield (x, p) -> v).toMap

  def setup(env: Env, d: String): Unit = {
    dir = d
    val spark = env.spark
    import spark.implicits._
    val (s, l) = (seed, labels)
    val df = spark.range(rows.toLong).map(i => fact(s, l)(i)).toDF().repartition(col("g"))
    env.call("store", "store")(Ktk.store(spark, dir, uuid, df, partitionOn = Seq("g")))
    val seedDf = spark.range(cubeRows.toLong).map(i => seedRow(s)(i)).toDF()
    val enrichDf = spark.range(CubeParts * CubeX).flatMap { j =>
      val (p, x) = ((j / CubeX).toInt, (j % CubeX).toInt)
      enrichValue(s)(p, x).map(v => EnrichRow(x, p, v))
    }.toDF()
    env.call("store", "cube_build")(Cube.build(spark, dir, cube,
      Map("seed" -> seedDf.repartition(col("p")), "enrich" -> enrichDf.repartition(col("p")))))
    env.add("store.files_written", (DatasetMetadata.load(spark, dir, uuid).partitions.size +
      Seq("seed", "enrich").map(n => DatasetMetadata.load(spark, dir, cube.uuid(n)).partitions.size).sum).toDouble)
  }

  def scan(env: Env, i: Int): Outcome = {
    val t = 200 + Gen.below(seed, i, 30, 600).toInt
    val (got, took) = env.timed("scan", i) {
      val df = env.spark.read.format("graft").option("uuid", uuid).load(dir)
        .filter(col("a") < t)
        .groupBy(col("c"))
        .agg(count(lit(1)), sum(col("b")), min(col("b")), max(col("b")))
      if (env.traced) env.call("dsv2", "plan")(df.queryExecution.executedPlan)
      env.call("exec", "materialize")(df.collect())
        .map(r => (r.getAs[Number](0).intValue, (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    }
    val want = facts.iterator.filter(_.a < t).toSeq.groupBy(_.c).map { case (c, fs) =>
      c -> (fs.size.toLong, fs.map(_.b).sum, fs.map(_.b).min, fs.map(_.b).max)
    }
    Outcome("scan", took, env.check(got == want, s"$name op $i (scan a < $t): ${got.size} groups, want ${want.size}"), rows.toLong)
  }

  def cubeQuery(env: Env, i: Int): Outcome = {
    val p = Gen.below(seed, i, 31, CubeParts).toInt
    val t = Gen.below(seed, i, 32, VRange)
    val conditions = Predicates(Seq(Seq(PredLiteral("p", PredOp.Eq, p), PredLiteral("v1", PredOp.Lt, t))))
    val (got, took) = env.timed("cube", i) {
      val df = env.call("cube", "query")(Cube.query(env.spark, dir, cube, conditions, payload = Seq("v1", "v2")))
      if (env.traced) env.add("cube.datasets_read", Probe.fileScans(df.queryExecution.executedPlan).toDouble)
      env.call("cube", "materialize")(Checksum.of(df, Seq("x", "y", "p", "v1", "v2")))
    }
    val want = Checksum.ofRows(seedRows.iterator.filter(r => r.p == p && r.v1 < t)
      .map(r => Seq(r.x, r.y, r.p, r.v1) ++ enrich.get((r.x, r.p)).toSeq))
    Outcome("cube", took, env.check(got == want, s"$name op $i (cube p = $p, v1 < $t): got $got, want $want"))
  }
}

object ScanAggregate {
  val VRange = 1000000L
  val CubeParts = 4
  val CubeX = 500

  final case class Fact(id: Long, g: Int, a: Int, c: Int, b: Long)
  final case class SeedRow(x: Int, y: Int, p: Int, v1: Long)
  final case class EnrichRow(x: Int, p: Int, v2: Long)

  def fact(seed: Long, labels: Int)(i: Long): Fact =
    Fact(i, Gen.below(seed, i, 20, labels).toInt, Gen.below(seed, i, 21, 1000).toInt,
      Gen.below(seed, i, 22, 100).toInt, Gen.below(seed, i, 23, VRange))

  /** Seed rows are unique on (x, y, p) by construction. */
  def seedRow(seed: Long)(i: Long): SeedRow =
    SeedRow(((i / CubeParts) % CubeX).toInt, (i / (CubeParts * CubeX)).toInt, (i % CubeParts).toInt,
      Gen.below(seed, i, 24, VRange))

  /** About nine in ten (x, p) cells have an enrichment row; the rest join to null. */
  def enrichValue(seed: Long)(p: Int, x: Int): Option[Long] = {
    val j = p.toLong * CubeX + x
    if (Gen.below(seed, j, 25, 10) == 0) None else Some(Gen.below(seed, j, 26, VRange))
  }
}
