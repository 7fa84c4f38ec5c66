package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three sidecar kinds (secondary index, per-file bloom, zone map)
  * through every writer: incremental merges must leave exactly the rows a
  * fresh build over the live labels would, and a sidecar whose file was
  * lost must not make reads silently wrong after the next write.
  */
class SidecarSpec extends SparkSpec {
  import SidecarSpec.R
  import spark.implicits._

  private def gen(from: Int, until: Int): Seq[R] = (from until until).map { i =>
    R(i % 4, (i % 50).toLong,
      if (i % 4 == 3) null else java.lang.Long.valueOf(i.toLong * 13 % 97),
      if (i % 5 == 0) null else Integer.valueOf(i % 17),
      s"v$i")
  }

  private def frame(rows: Seq[R]): DataFrame = rows.toDF().repartition(3)

  private def store(base: String, rows: Seq[R]): DatasetMetadata =
    Ktk.store(spark, base, "ds", frame(rows), partitionOn = Seq("p"),
      secondaryIndices = Seq("key"), bloomFor = Seq("b"), zoneMapFor = Seq("z", "key"))

  /** Comparable content of every sidecar registered on `md`. The index is
    * compared as the union of labels per value (append-only commits may
    * spread one value over several rows).
    */
  private def contents(base: String, md: DatasetMetadata): Map[String, Seq[String]] = {
    val idx = md.indices.keys.toSeq.map { c =>
      s"index:$c" -> spark.read.parquet(md.indexPath(base, c))
        .select(col("value").cast("string"), explode(col("partitions")))
        .distinct().collect().map(r => s"${r.getString(0)}|${r.getString(1)}").toSeq.sorted
    }
    val blm = md.bloomRegistry.keys.toSeq.map { c =>
      s"bloom:$c" -> spark.read.parquet(md.bloomPath(base, c)).collect().map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("bloom")).map(_.mkString(",")).getOrElse("null")
        s"${r.getAs[String]("label")}|$bytes"
      }.toSeq.sorted
    }
    val zon = md.zoneRegistry.keys.toSeq.map { c =>
      s"zone:$c" -> spark.read.parquet(md.zonePath(base, c)).collect().map { r =>
        s"${r.getAs[String]("label")}|${r.getAs[String]("mn")}|${r.getAs[String]("mx")}"
      }.toSeq.sorted
    }
    (idx ++ blm ++ zon).toMap
  }

  /** A fresh build of every registered sidecar over the live labels, made
    * on a copy so the dataset under test keeps its incrementally merged
    * sidecars.
    */
  private def rebuilt(base: String, md: DatasetMetadata, step: Int): Map[String, Seq[String]] = {
    val copy = s"fresh$step"
    Ktk.copyDataset(spark, base, "ds", copy)
    md.indices.keys.foreach(c => Ktk.addIndex(spark, base, copy, c))
    md.bloomRegistry.keys.foreach(c => Ktk.addBloom(spark, base, copy, c))
    val out = Ktk.addZoneMaps(spark, base, copy, md.zoneRegistry.keys.toSeq.sorted)
    contents(base, out)
  }

  /** Part files of every registered sidecar dir of `md`. */
  private def parts(base: String, md: DatasetMetadata): Map[String, Int] = {
    val fs = DatasetMetadata.fs(spark, base)
    Sidecars.kinds.flatMap(k => k.registry(md).keys.map { c =>
      s"${k.noun}:$c" -> fs.listStatus(new Path(k.path(base, md, c))).count { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }).toMap
  }

  test("incremental sidecar merges equal a fresh rebuild after every writer step (index, bloom, zone)") {
    val base = tmpDir("sidecar")
    // a commit that drops no label appends a fragment (`Fragment`) to the
    // current dirs, an upsert included; every other step writes canonical
    // dirs (`Canonical`)
    sealed trait Shape
    case object Fragment extends Shape
    case object Canonical extends Shape
    val steps: Seq[(String, Shape, () => DatasetMetadata)] = Seq(
      ("store", Canonical, () => store(base, gen(0, 400))),
      ("update append", Fragment, () => Ktk.update(spark, base, "ds", Some(frame(gen(400, 520))))),
      ("update delete scope", Canonical, () =>
        Ktk.update(spark, base, "ds", None, deleteScope = Predicates.of(Seq(("p", "==", 1))))),
      ("second update append", Fragment, () =>
        Ktk.update(spark, base, "ds", Some(frame(gen(520, 600))))),
      ("third update append", Fragment, () =>
        Ktk.update(spark, base, "ds", Some(frame(gen(600, 660))))),
      ("compact", Canonical, () => Ktk.compact(spark, base, "ds")),
      ("update append after compact", Fragment, () =>
        Ktk.update(spark, base, "ds", Some(frame(gen(660, 700))))),
      ("merge (upsert)", Fragment, () =>
        Ktk.merge(spark, base, "ds", frame(gen(700, 730)), keys = Seq("key"))._1),
      ("compact after merge", Canonical, () => Ktk.compact(spark, base, "ds")))
    var prev: Option[DatasetMetadata] = None
    steps.zipWithIndex.foreach { case ((name, shape, run), i) =>
      val before = prev.map(parts(base, _))
      val md = run()
      val got = contents(base, md)
      withClue(s"after $name: ") {
        got.keySet shouldBe Set("index:key", "bloom:b", "zone:z", "zone:key")
        got shouldBe rebuilt(base, md, i)
        // every kind covers exactly the live labels
        got("bloom:b").map(_.takeWhile(_ != '|')).toSet shouldBe md.partitions.keySet
        got("zone:z").map(_.takeWhile(_ != '|')).toSet shouldBe md.partitions.keySet
        val now = parts(base, md)
        shape match {
          case Fragment =>
            // same dirs, each one fragment larger: the batch's rows only
            Sidecars.kinds.foreach(k => k.registry(md) shouldBe k.registry(prev.get))
            now.foreach { case (sc, n) => n should be > before.get(sc) }
          case Canonical =>
            // a merge writes fresh dirs that fold every fragment
            prev.foreach { p =>
              Sidecars.kinds.foreach { k =>
                k.registry(md).foreach { case (c, n) => k.registry(p).get(c) should not be Some(n) }
              }
              now.values.foreach(_ should be <= Sidecars.CanonicalFiles)
            }
        }
      }
      prev = Some(md)
    }
  }

  test("pure appends past MaxFragments keep every sidecar dir within the bound, reads exact") {
    val base = tmpDir("sidecar")
    var rows = gen(0, 200)
    Ktk.store(spark, base, "ds", frame(rows), partitionOn = Seq("p"),
      secondaryIndices = Seq("key"), zoneMapFor = Seq("z"))
    val reads = Seq(
      "point" -> (Predicates.of(Seq(("key", "==", 7L))), (r: R) => r.key == 7L),
      "range" -> (Predicates.of(Seq(("z", ">=", 3), ("z", "<=", 5))),
        (r: R) => r.z != null && r.z >= 3 && r.z <= 5),
      "in-list" -> (Predicates.of(Seq(("key", "in", Seq(1L, 7L, 49L)))),
        (r: R) => Set(1L, 7L, 49L)(r.key)))
    def exact(step: Int): Unit = reads.foreach { case (name, (preds, keep)) =>
      withClue(s"$name read after append $step: ") {
        Ktk.readTable(spark, base, "ds", predicates = preds)
          .select("payload").as[String].collect().sorted.toSeq shouldBe
          rows.filter(keep).map(_.payload).sorted
      }
    }
    def names(md: DatasetMetadata): Map[String, String] =
      Sidecars.kinds.flatMap(k => k.registry(md).map { case (c, n) => s"${k.noun}:$c" -> n }).toMap
    var md = DatasetMetadata.load(spark, base, "ds")
    val folds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    // every dir starts with at least one part file, so it reaches the
    // bound, and folds exactly once, within MaxFragments + 1 appends
    (1 to Sidecars.MaxFragments + 1).foreach { i =>
      // one label per batch: every commit is a pure append
      val batch = gen(200 + 4 * i, 204 + 4 * i).map(_.copy(p = i % 4))
      val (before, prevNames) = (parts(base, md), names(md))
      md = Ktk.update(spark, base, "ds", Some(batch.toDF().coalesce(1)))
      rows ++= batch
      val now = parts(base, md)
      withClue(s"after append $i: ") {
        now.keySet shouldBe Set("index:key", "zone-map:z")
        now.foreach { case (sc, n) =>
          n should be <= Sidecars.MaxFragments
          if (names(md)(sc) == prevNames(sc)) n shouldBe before(sc) + 1
          else {
            // the commit that found a full dir folded it, and only then
            before(sc) shouldBe Sidecars.MaxFragments
            n should be <= Sidecars.CanonicalFiles
            folds(sc) += 1
          }
        }
        if (names(md) != prevNames) exact(i)
      }
    }
    folds.toMap shouldBe Map("index:key" -> 1, "zone-map:z" -> 1)
    exact(Sidecars.MaxFragments + 1)
    contents(base, md) shouldBe rebuilt(base, md, 0)
  }

  private def deleteSidecarDirs(base: String): Unit = {
    val fs = DatasetMetadata.fs(spark, base)
    Seq("indices", "blooms", "zones").foreach(d => fs.delete(new Path(s"$base/ds/$d"), true))
  }

  private def counts(base: String): Seq[Long] = Seq(
    ("key", 7L), ("b", 65L), ("z", 3)).map { case (c, v) =>
    Ktk.readTable(spark, base, "ds", predicates = Predicates.of(Seq((c, "==", v)))).count()
  }

  private def truth(rows: Seq[R]): Seq[Long] = Seq(
    rows.count(_.key == 7L), rows.count(r => r.b != null && r.b == 65L),
    rows.count(r => r.z != null && r.z == 3)).map(_.toLong)

  test("a lost sidecar is rebuilt from survivors and new labels by the next update") {
    val base = tmpDir("sidecar")
    store(base, gen(0, 400))
    deleteSidecarDirs(base)
    val batch = gen(400, 480)
    Ktk.update(spark, base, "ds", Some(frame(batch)))
    val all = gen(0, 480)
    truth(all).foreach(_ should be > 0L)
    counts(base) shouldBe truth(all)
    // and the rebuilt sidecars are exactly a fresh build
    val md = DatasetMetadata.load(spark, base, "ds")
    contents(base, md) shouldBe rebuilt(base, md, 0)
  }

  test("a lost sidecar is rebuilt by compact") {
    val base = tmpDir("sidecar")
    store(base, gen(0, 400))
    // one single-file commit: compaction leaves it alone, so it survives
    val extra = Seq.fill(5)(R(0, 7L, java.lang.Long.valueOf(65L), Integer.valueOf(3), "extra"))
    Ktk.update(spark, base, "ds", Some(extra.toDF().repartition(1)))
    deleteSidecarDirs(base)
    Ktk.compact(spark, base, "ds")
    counts(base) shouldBe truth(gen(0, 400) ++ extra)
  }

  test("a lost sidecar whose survivors' data files are gone too fails the write loudly") {
    val base = tmpDir("sidecar")
    val md = store(base, gen(0, 400))
    deleteSidecarDirs(base)
    val fs = DatasetMetadata.fs(spark, base)
    fs.delete(new Path(md.fileFor(base, md.partitions.keys.toSeq.min)), false)
    val before = DatasetMetadata.load(spark, base, "ds").version
    an[Exception] should be thrownBy
      Ktk.update(spark, base, "ds", Some(frame(gen(400, 480))))
    DatasetMetadata.invalidateCache(base, "ds")
    DatasetMetadata.load(spark, base, "ds").version shouldBe before
  }
}

object SidecarSpec {
  // p = partition key; key = indexed; b = bloom (all-null in p=3, so those
  // files carry null blooms); z = zone column with scattered nulls
  final case class R(p: Int, key: Long, b: java.lang.Long, z: java.lang.Integer, payload: String)
}
