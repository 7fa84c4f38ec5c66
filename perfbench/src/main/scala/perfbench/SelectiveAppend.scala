package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.core.{PredLiteral, PredOp, Predicates}
import graft.ktk.{DatasetMetadata, Ktk}

/** Planning- and commit-bound work on one dataset of many small Hive labels,
  * sorted by and indexed on a high-cardinality key. Each block of the closed
  * loop has 26 reads (16 point lookups on the key, 6 partition-key ranges
  * with a residual filter, 4 in-lists of 100 keys) and two small appends,
  * each followed by a read-your-write point read of a reader whose snapshot
  * cache is cold; the block ends with a compaction, so reads see the small
  * files of two commits pile up first. After every commit the whole
  * table is checked against the generator, untimed. The run ends with
  * history, the change feed from v1, fsck and gc. Label pruning, index
  * probes, per-query planning and commits dominate; execution is small.
  */
final class SelectiveAppend(rows: Int, p1s: Int, p2s: Int, keys: Int, batchRows: Int, seed: Long)
    extends Workload {
  import SelectiveAppend._

  val name = "selective_append"
  val headline = "point"
  val block: Seq[String] = Half ++ Half :+ "compact"
  private val uuid = "sel"
  private var dir = ""

  private lazy val base: Array[Row] = Array.tabulate(rows)(i => row(seed, p1s, p2s, keys)(i.toLong))
  private val committed = ArrayBuffer.empty[Row]
  private val byKey = scala.collection.mutable.Map.empty[Long, List[Row]]
  private var indexed = false
  private var storedBytes = 0L

  private def tableRows: Iterator[Row] = base.iterator ++ committed.iterator
  private def withKey(k: Long): Seq[Row] = {
    if (!indexed) { tableRows.foreach(add); indexed = true }
    byKey.getOrElse(k, Nil)
  }
  private def add(r: Row): Unit = byKey(r.key) = r :: byKey.getOrElse(r.key, Nil)

  def setup(env: Env, d: String): Unit = {
    dir = d
    val spark = env.spark
    import spark.implicits._
    val (s, a, b, k) = (seed, p1s, p2s, keys)
    val df = spark.range(rows.toLong).map(i => row(s, a, b, k)(i)).toDF().repartition(col("p1"), col("p2"))
    env.call("store", "store") {
      Ktk.store(spark, dir, uuid, df, partitionOn = Seq("p1", "p2"), sortBy = Seq("key"), secondaryIndices = Seq("key"))
    }
    env.add("store.files_written", DatasetMetadata.load(spark, dir, uuid).partitions.size.toDouble)
  }

  /** One read of each kind, from step numbers the timed stream never uses.
    * Appends and compaction write through the same code as the set-ups
    * before them, which warm it.
    */
  def warmup(env: Env): Unit =
    Seq("point", "range", "inlist").zipWithIndex.foreach { case (k, i) => step(env, 1000000 + i, k) }

  def op(env: Env, i: Int): Seq[Outcome] = step(env, i, block(i % block.size))

  private def step(env: Env, i: Int, kind: String): Seq[Outcome] = kind match {
    case "append" => append(env, i)
    case "compact" =>
      val (_, took) = env.timed("compact", i)(env.call("maint", "compact")(Ktk.compact(env.spark, dir, uuid)))
      Seq(Outcome("compact", took, env.completed()))
    case _ => Seq(read(env, i, kind))
  }

  private def read(env: Env, i: Int, kind: String): Outcome = {
    val (preds, expect) = query(i, kind)
    val (got, took) = env.timed(kind, i) {
      if (env.traced) {
        val md = env.call("meta", "load")(DatasetMetadata.load(env.spark, dir, uuid))
        val kept = env.call("prune", "queryLabels")(Ktk.queryLabels(env.spark, dir, md, preds))
        env.add("prune.labels_total", md.partitions.size.toDouble)
        env.add("prune.labels_kept", kept.size.toDouble)
      }
      val df = env.call("read_plan", "readTable")(Ktk.readTable(env.spark, dir, uuid, predicates = preds))
      env.call("exec", "materialize")(Checksum.of(df, Cols))
    }
    val want = Checksum.ofRows(expect.iterator.map(_.values))
    Outcome(kind, took, env.check(got == want, s"$name step $i ($kind): got $got, want $want"))
  }

  /** The program's predicate for step `i` and the rows it must return. */
  private def query(i: Int, kind: String): (Predicates, Seq[Row]) = kind match {
    case "point" =>
      val k = Gen.below(seed, i, 10, keys)
      (Predicates(Seq(Seq(PredLiteral("key", PredOp.Eq, k)))), withKey(k))
    case "range" =>
      val lo = Gen.below(seed, i, 11, p1s - RangeSpan + 1).toInt
      val hi = lo + RangeSpan - 1
      val t = Gen.below(seed, i, 12, VRange)
      (Predicates(Seq(Seq(PredLiteral("p1", PredOp.Ge, lo), PredLiteral("p1", PredOp.Le, hi),
        PredLiteral("v", PredOp.Lt, t)))),
        tableRows.filter(r => r.p1 >= lo && r.p1 <= hi && r.v < t).toSeq)
    case "inlist" =>
      val ks = Iterator.from(0).map(j => Gen.below(seed, i * 1000L + j, 13, keys)).distinct.take(InList).toVector
      (Predicates(Seq(Seq(PredLiteral("key", PredOp.In, ks)))), ks.flatMap(withKey))
  }

  /** Batch `i` touches three seeded partitions; ids continue after the base.
    * Four writer tasks leave several small files per partition, which the
    * block's compaction merges.
    */
  private def batch(i: Int): Seq[Row] = {
    val parts = (0 until 3).map(q => (Gen.below(seed, i, 40 + q, p1s).toInt, Gen.below(seed, i, 43 + q, p2s).toInt))
    (0 until batchRows).map { r =>
      val id = rows.toLong + i.toLong * batchRows + r
      val (p1, p2) = parts(r % 3)
      Row(id, p1, p2, Gen.below(seed, id, 3, keys), Gen.below(seed, id, 4, VRange), text(seed, id))
    }
  }

  private def append(env: Env, i: Int): Seq[Outcome] = {
    val spark = env.spark
    import spark.implicits._
    val rowsIn = batch(i)
    val before = if (env.traced) Some(listing()) else None
    val (_, commitTook) = env.timed("commit", i) {
      env.call("commit", "update")(Ktk.update(spark, dir, uuid, Some(rowsIn.toDF().repartition(WriterTasks))))
    }
    before.foreach { b =>
      val added = listing().filter { case (f, sz) => !b.get(f).contains(sz) }
      env.add("commit.data_files_added", added.keys.count(f => f.startsWith("table/") && f.endsWith(".parquet")).toDouble)
      env.add("commit.metadata_bytes_written", added.filter(!_._1.startsWith("table/")).values.sum.toDouble)
    }
    committed ++= rowsIn
    if (indexed) rowsIn.foreach(add)
    val k = rowsIn.head.key
    // the committing JVM seeds its snapshot cache with the new version; drop
    // it so the read is that of another reader, which loads the new version
    DatasetMetadata.invalidateCache(dir, uuid)
    val (got, readTook) = env.timed("fresh_read", i) {
      if (env.traced) env.call("meta", "load")(DatasetMetadata.load(spark, dir, uuid))
      val df = env.call("read_plan", "readTable")(Ktk.readTable(spark, dir, uuid,
        predicates = Predicates(Seq(Seq(PredLiteral("key", PredOp.Eq, k))))))
      env.call("exec", "materialize")(Checksum.of(df, Cols))
    }
    val want = Checksum.ofRows(withKey(k).iterator.map(_.values))
    Seq(
      Outcome("commit", commitTook, checkWhole(env, s"after step $i")),
      Outcome("fresh_read", readTook, env.check(got == want, s"$name step $i: read-your-write key $k got $got, want $want")))
  }

  /** The whole table read back equals the union of the base and every batch. */
  private def checkWhole(env: Env, when: String): Boolean = {
    val got = env.oracle(Checksum.of(Ktk.readTable(env.spark, dir, uuid), Cols))
    val want = Checksum.ofRows(tableRows.map(_.values))
    env.check(got == want, s"$name: table $when is $got, want $want")
  }

  override def finish(env: Env): Seq[Outcome] = {
    val spark = env.spark
    val versions = DatasetMetadata.listVersions(spark, dir, uuid).size
    env.add("maint.versions", versions.toDouble)
    env.add("maint.labels", DatasetMetadata.load(spark, dir, uuid).partitions.size.toDouble)
    val (hist, historyTook) = env.timed("history", -2)(env.call("maint", "history")(Ktk.history(spark, dir, uuid).count()))
    val (feed, cdfTook) = env.timed("cdf", -3) {
      env.call("maint", "cdf") {
        val cdf = Ktk.readChangeFeed(spark, dir, uuid, fromVersion = 1L)
        Seq("insert", "delete").map(t => Checksum.of(cdf.filter(col("_change_type") === t), Cols))
      }
    }
    val (_, fsckTook) = env.timed("fsck", -4)(env.call("maint", "fsck")(Ktk.fsck(spark, dir, uuid).count()))
    val (_, gcTook) = env.timed("gc", -5)(env.call("maint", "gc")(Ktk.garbageCollect(spark, dir, uuid, sidecarGraceMs = 0L)))
    val clean = env.oracle(Ktk.fsck(spark, dir, uuid).collect())
    storedBytes = du(new File(s"$dir/$uuid"))
    val batches = Checksum.ofRows(committed.iterator.map(_.values))
    val net = (feed(0)._1 - feed(1)._1, feed(0)._2 - feed(1)._2)
    checkWhole(env, "after gc")
    Seq(
      Outcome("history", historyTook, env.check(hist == versions, s"$name: history has $hist versions, listing $versions")),
      Outcome("cdf", cdfTook, env.check(net == batches, s"$name: change feed from v1 nets to $net, batches are $batches")),
      Outcome("fsck", fsckTook, env.completed()),
      Outcome("gc", gcTook, env.check(clean.isEmpty, s"$name: fsck after gc reports ${clean.mkString("; ")}")))
  }

  def details(outcomes: Seq[Outcome]): Seq[Metric] = {
    val maint = Seq("compact", "history", "cdf", "fsck", "gc")
    val userBytes = tableRows.map(r => 8L + 4 + 4 + 8 + 8 + r.s.getBytes("UTF-8").length).sum
    Seq(Metric("point_read_p50_ms", Workload.p50(outcomes, "point"), "ms")) ++
      Workload.tail(outcomes, "point", "point_read") ++ Seq(
        Metric("range_read_p50_ms", Workload.p50(outcomes, "range"), "ms"),
        Metric("inlist_read_p50_ms", Workload.p50(outcomes, "inlist"), "ms"),
        Metric("commit_p50_ms", Workload.p50(outcomes, "commit"), "ms")) ++
      Workload.tail(outcomes, "commit", "commit") ++ Seq(
        Metric("fresh_read_p50_ms", Workload.p50(outcomes, "fresh_read"), "ms"),
        Metric("maintenance_s", outcomes.filter(o => maint.contains(o.kind)).map(_.ms).sum / 1000.0, "s"),
        Metric("commits", committed.size.toDouble / batchRows, "count"),
        Metric("stored_bytes_per_user_byte", Stats.storedPerUserByte(storedBytes, userBytes), "ratio"),
        Metric("stored_bytes", storedBytes.toDouble, "bytes"),
        Metric("user_bytes", userBytes.toDouble, "bytes"),
        Metric("base_rows", rows.toDouble, "count"),
        Metric("base_labels", (p1s * p2s).toDouble, "count"))
  }

  /** Relative path -> size of every file under the dataset directory. */
  private def listing(): Map[String, Long] = {
    val root = new File(s"$dir/$uuid")
    def walk(f: File): Seq[File] = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString -> f.length).toMap
  }

  private def du(f: File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length
}

object SelectiveAppend {
  /** Half a block: 13 reads, 8 point, 3 range and 2 in-list (62/23/15%),
    * spread evenly, then one append.
    */
  val Half: Seq[String] = Seq(
    "point", "range", "point", "inlist", "point", "point", "range",
    "point", "point", "inlist", "point", "range", "point", "append")
  val Cols: Seq[String] = Seq("id", "p1", "p2", "key", "v", "s")
  val VRange = 1000000L
  /** In-list size: the reference's own warning size for index in-lists. */
  val InList = 100
  val RangeSpan = 2
  val WriterTasks = 4

  final case class Row(id: Long, p1: Int, p2: Int, key: Long, v: Long, s: String) {
    def values: Seq[Any] = Seq(id, p1, p2, key, v, s)
  }

  def text(seed: Long, id: Long): String = java.lang.Long.toString(Gen.mix(seed, id, 5) >>> 16, 36)

  def row(seed: Long, p1s: Int, p2s: Int, keys: Int)(i: Long): Row =
    Row(i, Gen.below(seed, i, 1, p1s).toInt, Gen.below(seed, i, 2, p2s).toInt,
      Gen.below(seed, i, 3, keys), Gen.below(seed, i, 4, VRange), text(seed, i))
}
