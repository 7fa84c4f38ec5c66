package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Predicates
import graft.cube.{Cube, CubeDef}
import graft.ktk.Ktk
import graft.ops.{Decontamination, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** Driver contract — one entry per operator of SURVEY.md §2 plus the
  * training-data pipeline operators. Every SQL-expressible query has a
  * DuckDB oracle; every query is fully ordered (ORDER BY on both sides) and
  * aliases every computed column identically in Spark and SQL so the
  * driver's sorted-column hash compare is deterministic.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Planning-time session confs some queries tune (DSv2 aggregate pushdown,
    * storage-partitioned joins). They must still be set when the ACTION runs
    * on the returned DataFrame, so the query builders cannot restore them —
    * instead the harnesses (Verify/Bench) snapshot these keys around each
    * query via [[withVolatileConfs]] so one query's tuning never perturbs
    * another's plan or timing.
    */
  val volatileConfs: Seq[String] = Seq(
    "spark.sql.parquet.aggregatePushdown",
    "spark.sql.sources.v2.bucketing.enabled",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
    "spark.sql.requireAllClusterKeysForCoPartition")

  def withVolatileConfs[T](spark: SparkSession)(body: => T): T = {
    val saved = volatileConfs.map(k => k -> spark.conf.getOption(k))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Stage a source file into a streaming-source dir ATOMICALLY (copy to a
    * temp sibling, then move): a crashed plain copy would leave a partial
    * parquet that poisons every later run's stream.
    */
  private def stageFileOnce(src: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(target)) {
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.copy(src, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
  }

  /** Materialize a DataFrame as ONE parquet file at `target` (atomic move,
    * idempotent) — file-streaming-source fixtures need plain files whose
    * arrival order the test controls, not write directories.
    */
  private def stageDfOnce(df: DataFrame, target: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(target)) {
      val tmp = java.nio.file.Files.createTempDirectory(target.getParent, "stage-")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part =
        try listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
        finally listing.close()
      try java.nio.file.Files.move(part, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }

  /** Per-(sfDir) scratch space for queries that exercise the Ktk write path. */
  private def scratch(dir: String): String = {
    val h = Integer.toHexString(dir.hashCode)
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), s"graft-$h")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Memoised Ktk datasets per scale dir so Verify/Bench don't re-write on
    * every query that shares a fixture.
    */
  private val built = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Memoised deterministic seed-screening results for the planted
    * image/audio dedup gates (pure CPU, identical every run).
    */
  private val screenedClasses = scala.collection.concurrent.TrieMap.empty[String, Array[Int]]
  private def ensureLineitemDs(s: SparkSession, dir: String): String = {
    val base = scratch(dir)
    built.getOrElseUpdate(s"$base/li", {
      Ktk.store(s, base, "lineitem", t(s, dir, "lineitem"),
        partitionOn = Seq("l_returnflag"), sortBy = Seq("l_shipdate"),
        secondaryIndices = Seq("l_linestatus"), overwrite = true)
      ()
    })
    base
  }
  private def ensureOrdersBloomDs(s: SparkSession, dir: String): String = {
    val base = scratch(dir)
    built.getOrElseUpdate(s"$base/orders_bloom", {
      Ktk.store(s, base, "orders_bloom", t(s, dir, "orders"),
        bloomFor = Seq("o_orderkey", "o_custkey"), overwrite = true)
      ()
    })
    base
  }
  private def ensureOrdersCube(s: SparkSession, dir: String): (String, CubeDef) = {
    val base = scratch(dir)
    val cube = CubeDef("tpch", dimensionColumns = Seq("o_custkey", "o_orderkey"),
      partitionColumns = Seq("bucket"))
    built.getOrElseUpdate(s"$base/cube", {
      val seed = t(s, dir, "orders").withColumn("bucket", pmod(col("o_custkey"), lit(4)))
      val cust = t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
        .withColumn("bucket", pmod(col("o_custkey"), lit(4)))
      Cube.build(s, base, cube, Map("seed" -> seed, "cust" -> cust), overwrite = true)
      ()
    })
    (base, cube)
  }

  private val ivfIndices = scala.collection.concurrent.TrieMap.empty[String, Similarity.IvfIndex]
  private def ivfIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex =
    ivfIndices.getOrElseUpdate(dir, {
      // the quantizer is persisted beside the data and reused across JVMs
      // (Verify/Bench are separate processes) — the production pattern
      val base = scratch(dir)
      try Similarity.loadIvfIndex(s, base, "ivf_centroids")
      catch {
        case _: NoSuchElementException =>
          val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), "embedding", nlist = 16)
          Similarity.saveIvfIndex(s, base, "ivf_centroids", idx)
          idx
      }
    })

  /** Per-scale-dir ANN recall floors = deterministic observed values − 0.1
    * (seeded hyperplanes / seeded k-means make the measurements exact), so
    * a genuine bucketing regression trips the gate instead of hiding under
    * a one-size-fits-all floor. Measured 2026-08 (r6): lsh min/mean
    * 0.5/0.53 · 0.3/0.53 · 0.6/0.83, ivf 0.4/0.43 · 0.6/0.8 · 0.5/0.63 at
    * sf0.001/0.01/0.1. Unknown dirs fall back to conservative global
    * floors. Returns (minFloor, meanFloor).
    */
  private[graft] def recallFloors(dir: String, kind: String): (Double, Double) = {
    val sf = dir.stripSuffix("/").split('/').last
    (kind, sf) match {
      case ("lsh", "sf0.001") => (0.4, 0.43)
      case ("lsh", "sf0.01")  => (0.2, 0.43)
      case ("lsh", "sf0.1")   => (0.5, 0.73)
      // unknown dirs inherit the conservative GLOBAL floor — a fallback of
      // (0.1, 0.2) asserted almost nothing (r6 verdict #5)
      case ("lsh", _)         => (0.3, 0.35)
      case ("ivf", "sf0.001") => (0.3, 0.33)
      case ("ivf", "sf0.01")  => (0.5, 0.7)
      case ("ivf", "sf0.1")   => (0.4, 0.53)
      // pq/ivfpq measured 2026-08-16 (r12, MeasureRecall): pq
      // 0.5/0.7/0.3 · 0.4/0.4/0.4 · 0.4/0.3/0.4, ivfpq 0.2/0.2/0.1 ·
      // 0.4/0.3/0.3 · 0.2/0.2/0.4 at sf0.001/0.01/0.1. Where observed−0.1
      // would floor at 0 (asserting nothing), the floor is the exact
      // observed min — seeded codebooks/centroids make reruns exact.
      case ("pq", "sf0.001")  => (0.2, 0.4)
      case ("pq", "sf0.01")   => (0.3, 0.3)
      case ("pq", "sf0.1")    => (0.2, 0.26)
      case ("pq", _)          => (0.2, 0.25)
      case ("ivfpq", "sf0.001") => (0.1, 0.15)
      case ("ivfpq", "sf0.01")  => (0.2, 0.23)
      case ("ivfpq", "sf0.1")   => (0.1, 0.16)
      case ("ivfpq", _)         => (0.1, 0.15)
      // neardup = PAIR recall of the LSH-bucketed candidates vs the
      // brute-force exact twin on the planted-jitter corpus (q_emb_neardup;
      // meanFloor unused — one corpus-level recall, not per-query).
      // Measured 2026-08-16 (r13, 1000-vector slice): 0.986 / 0.98 /
      // 0.976 at sf0.001/0.01/0.1; floors = observed − 0.1.
      case ("neardup", "sf0.001") => (0.886, 0.886)
      case ("neardup", "sf0.01")  => (0.88, 0.88)
      case ("neardup", "sf0.1")   => (0.876, 0.876)
      case ("neardup", _)         => (0.5, 0.5)
      case _                  => (0.3, 0.35)
    }
  }

  /** Embeddings corpus plus one deterministic jittered near-copy per row
    * (`1.01f·x + 0.001f`, FLOAT arithmetic so DuckDB replays it exactly) —
    * the shared fixture of the near-dup gates: every (v, v') pair has
    * cosine ≈ 0.9999 while natural pairs stay ≤ ~0.51.
    */
  private def plantedNearDupCorpus(e0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = e0.select("vec_id", "embedding")
    e.unionByName(e.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.01f) + lit(0.001f)).as("embedding")))
  }

  /** documents ∪ "v1 "-prefixed ∪ "v2 v2 "-prefixed variant corpus — the
    * shared fixture of the transitive-closure dedup gates — built from ONE
    * scan + explode instead of a 3-branch self-union (r16: the union read
    * and decoded the same parquet three times; rows are identical, the
    * oracles re-proved it).
    */
  private def variantFixture(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"), col("text"),
        explode(array(lit(0L), lit(1000000L), lit(2000000L))).as("__off"))
      .select((col("doc_id") + col("__off")).as("doc_id"),
        when(col("__off") === 0L, col("text"))
          .when(col("__off") === 1000000L, concat(lit("v1 "), col("text")))
          .otherwise(concat(lit("v2 v2 "), col("text"))).as("text"))

  private val pqBooks = scala.collection.concurrent.TrieMap.empty[String, Similarity.PqCodebooks]
  private def pqFor(s: SparkSession, dir: String): Similarity.PqCodebooks =
    pqBooks.getOrElseUpdate(dir,
      Similarity.trainPq(t(s, dir, "embeddings"), "embedding", dim = 64, m = 8))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Pre-build the shared Ktk/cube fixtures (and warm codegen) so Bench
    * timings measure query cost, not one-time dataset builds.
    */
  def warmup(s: SparkSession, dir: String): Unit = {
    s.range(1000000).groupBy((col("id") % 7).as("k")).count().count()
    ensureLineitemDs(s, dir)
    ensureOrdersCube(s, dir)
    ivfIndexFor(s, dir)
    // build the bucketed / extended-cube / pq-code / interop fixtures so
    // their queries time reads, not one-off writes
    queries("q_ktk_bucketed")(s, dir).limit(1).count()
    queries("q_spj_merge")(s, dir).limit(1).count()
    queries("q_cube_extend")(s, dir).limit(1).count()
    queries("q_ann_pq")(s, dir).limit(1).count()
    queries("q_ann_ivfpq")(s, dir).limit(1).count()
    queries("q_ktk_interop")(s, dir).limit(1).count()
    queries("q_ktk_zonemap")(s, dir).limit(1).count()
    queries("q_ktk_twophase")(s, dir).limit(1).count()
    queries("q_ktk_adopt")(s, dir).limit(1).count()
    queries("q_ktk_compact")(s, dir).limit(1).count()
  }

  // ------------------------------------------------------------------------
  // Query inventory. Naming convention: q_<area>_<operator>.
  // ------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -------------------------------------------------- scans / filters
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_scan_projection" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    }),

    "q_dnf_filter" -> ((s, dir) => {
      val p = Predicates.of(
        Seq(("l_returnflag", "==", "R"), ("l_quantity", ">", 45.0)),
        Seq(("l_linestatus", "==", "O"), ("l_discount", "<", 0.02)))
      t(s, dir, "lineitem").filter(p.toColumn)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    }),

    "q_in_filter" -> ((s, dir) => {
      val p = Predicates.of(Seq(("o_orderpriority", "in", Seq("1-URGENT", "2-HIGH")),
        ("o_totalprice", ">=", 150000.0)))
      t(s, dir, "orders").filter(p.toColumn)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "q_null_semantics" -> ((s, dir) => {
      // derive a nullable column, then DNF `== null` / `!= null`
      val d = t(s, dir, "orders")
        .withColumn("big", when(col("o_totalprice") > 200000.0, col("o_totalprice")))
      val nulls = d.filter(Predicates.of(Seq(("big", "==", null))).toColumn)
        .agg(count(lit(1)).as("n")).withColumn("side", lit("null"))
      val nonnull = d.filter(Predicates.of(Seq(("big", "!=", null))).toColumn)
        .agg(count(lit(1)).as("n")).withColumn("side", lit("nonnull"))
      nulls.unionByName(nonnull).select("side", "n").orderBy("side")
    }),

    "q_filter_expr" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(expr("o_totalprice > 200000 AND o_orderpriority LIKE '1%'"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // -------------------------------------------------- ktk engine surface
    "q_ktk_roundtrip" -> ((s, dir) => {
      val base = ensureLineitemDs(s, dir)
      Ktk.readTable(s, base, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    "q_ktk_pushdown" -> ((s, dir) => {
      val base = ensureLineitemDs(s, dir)
      Ktk.readTable(s, base, "lineitem",
        columns = Seq("l_orderkey", "l_linenumber", "l_quantity"),
        predicates = Predicates.of(Seq(("l_returnflag", "==", "R"), ("l_quantity", ">", 30.0))))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q_ktk_index_read" -> ((s, dir) => {
      val base = ensureLineitemDs(s, dir)
      Ktk.readTable(s, base, "lineitem",
        columns = Seq("l_orderkey", "l_linenumber", "l_linestatus", "l_extendedprice"),
        predicates = Predicates.of(Seq(("l_linestatus", "==", "F"), ("l_extendedprice", ">=", 50000.0))))
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    }),

    "q_ktk_index_stats" -> ((s, dir) => {
      // secondary-index content as a frame: value -> #partitions holding it
      val base = ensureLineitemDs(s, dir)
      val md = graft.ktk.DatasetMetadata.load(s, base, "lineitem")
      // labels are file paths; count distinct partition DIRECTORIES so the
      // result is invariant to how many part-files each partition holds
      Ktk.loadIndex(s, base, md, "l_linestatus")
        .select(col("value").as("l_linestatus"),
          size(array_distinct(transform(col("partitions"),
            p => regexp_extract(p, "^(.*)/", 1)))).as("n_partitions"))
        .orderBy("l_linestatus")
    }),

    "q_ktk_update" -> ((s, dir) => {
      // fresh dataset: store orders partitioned by status, then one commit
      // that deletes partition F and appends big-F rows back
      val base = scratch(dir)
      val orders = t(s, dir, "orders")
      Ktk.store(s, base, "orders_upd", orders, partitionOn = Seq("o_orderstatus"), overwrite = true)
      Ktk.update(s, base, "orders_upd",
        Some(orders.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)),
        deleteScope = Predicates.of(Seq(("o_orderstatus", "==", "F"))))
      Ktk.readTable(s, base, "orders_upd", columns = Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_ktk_delete_rows" -> ((s, dir) => {
      // row-level DELETE via deletion vectors (Delta/Iceberg merge-on-read):
      // the commit writes ONE (label, pos) tombstone fragment, no data file
      // is rewritten, and reads anti-join the vectors on exactly the files
      // they touch. Re-running the identical DELETE must find nothing
      // (fragments stay disjoint) — both invariants gated in-query.
      val base = scratch(dir)
      val orders = t(s, dir, "orders")
      Ktk.store(s, base, "orders_dv",
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        partitionOn = Seq("o_orderstatus"), overwrite = true)
      val before = graft.ktk.DatasetMetadata.load(s, base, "orders_dv").partitions.keySet
      val (md1, n) = Ktk.deleteRows(s, base, "orders_dv",
        predicates = Predicates.of(Seq(("o_totalprice", ">", 150000.0))))
      val (_, n2) = Ktk.deleteRows(s, base, "orders_dv",
        predicates = Predicates.of(Seq(("o_totalprice", ">", 150000.0))))
      require(n > 0 && n2 == 0L && md1.partitions.keySet == before,
        s"deletion vectors regressed: n=$n rerun=$n2 filesChanged=${md1.partitions.keySet != before}")
      Ktk.readTable(s, base, "orders_dv",
        columns = Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_ktk_merge" -> ((s, dir) => {
      // MERGE (upsert) merge-on-read: matched target rows become a deletion-
      // vector fragment, the source appends as new files — ONE commit, ZERO
      // data-file rewrites, O(batch) cost at any target size.
      val base = scratch(dir)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      Ktk.store(s, base, "orders_mrg", orders,
        partitionOn = Seq("o_orderstatus"), overwrite = true)
      val src = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .unionByName(orders.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      val v0 = graft.ktk.DatasetMetadata.load(s, base, "orders_mrg").version
      val (md1, matched) = Ktk.merge(s, base, "orders_mrg", src, keys = Seq("o_orderkey"))
      require(matched > 0 && md1.version == v0 + 1,
        s"merge regressed: matched=$matched versions=${v0} -> ${md1.version}")
      Ktk.readTable(s, base, "orders_mrg")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    "q_ktk_update_rows" -> ((s, dir) => {
      // row-level UPDATE (merge-on-read SQL UPDATE analog): matched rows
      // tombstone + re-append transformed in ONE commit, zero rewrites of
      // untouched files — in-query pins: single version bump, all original
      // files survive.
      val base = scratch(dir)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      Ktk.store(s, base, "orders_upd", orders,
        partitionOn = Seq("o_orderstatus"), overwrite = true)
      val md0 = graft.ktk.DatasetMetadata.load(s, base, "orders_upd")
      val (md1, n) = Ktk.updateRows(s, base, "orders_upd",
        set = Map("o_totalprice" -> (col("o_totalprice") + 1000.0)),
        predicates = Predicates.of(Seq(("o_totalprice", ">", 200000.0))))
      require(n > 0 && md1.version == md0.version + 1 &&
          md0.partitions.keySet.subsetOf(md1.partitions.keySet),
        s"updateRows invariants broke: n=$n dv=${md1.version - md0.version} " +
          s"rewrote=${!md0.partitions.keySet.subsetOf(md1.partitions.keySet)}")
      Ktk.readTable(s, base, "orders_upd")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_ktk_cdf" -> ((s, dir) => {
      // batch CDC (Delta CHANGE DATA FEED analog): store → row-level
      // DELETE → MERGE, then the feed over (v_store, v_merge] must
      // reproduce every change with row precision — deletion vectors give
      // the delete side exact rows, the seq watermark keeps rewrites out.
      val base = scratch(dir)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      Ktk.store(s, base, "orders_cdf", orders,
        partitionOn = Seq("o_orderstatus"), overwrite = true)
      val v1 = graft.ktk.DatasetMetadata.load(s, base, "orders_cdf").version
      Ktk.deleteRows(s, base, "orders_cdf",
        predicates = Predicates.of(Seq(("o_totalprice", ">", 200000.0))))
      val src = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
      Ktk.merge(s, base, "orders_cdf", src, keys = Seq("o_orderkey"))
      Ktk.readChangeFeed(s, base, "orders_cdf", v1)
        .groupBy(col("_change_type").as("change_type"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("change_type", "o_orderstatus")
    }),

    "q_cdc_batch" -> ((s, dir) => {
      // the CONNECTOR batch change feed (`spark.read.format("graft-cdc")`,
      // the Delta CDF batch-read analog): the same merge-on-read change
      // history as q_ktk_cdf consumed through the public read surface with
      // explicit version bounds; empty-range and initial-slice behavior
      // pinned in-query
      val base = scratch(dir)
      // deterministic 3-commit fixture, built ONCE per scratch dir (version
      // the uuid if the expected content ever changes): v1 store, v2
      // row-level delete, v3 merge
      val complete = graft.ktk.DatasetMetadata.exists(s, base, "orders_cdcb2") &&
        graft.ktk.DatasetMetadata.load(s, base, "orders_cdcb2").version == 3L
      if (!complete) {
        // a crashed earlier build leaves a partial history — rebuild clean
        if (graft.ktk.DatasetMetadata.exists(s, base, "orders_cdcb2"))
          graft.ktk.DatasetMetadata.delete(s, base, "orders_cdcb2")
        val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        Ktk.store(s, base, "orders_cdcb2", orders, partitionOn = Seq("o_orderstatus"))
        Ktk.deleteRows(s, base, "orders_cdcb2",
          predicates = Predicates.of(Seq(("o_totalprice", ">", 150000.0))))
        val src = orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(250.0))
        Ktk.merge(s, base, "orders_cdcb2", src, keys = Seq("o_orderkey"))
      }
      def feed(opts: (String, String)*) = {
        val r = s.read.format("graft-cdc").option("uuid", "orders_cdcb2")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load(base)
      }
      require(feed("startingVersion" -> "3").count() == 0L,
        "an empty version range must produce no changes")
      feed("startingVersion" -> "1")
        .groupBy(col("_change_type").as("change_type"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("change_type", "o_orderstatus")
    }),

    "q_ktk_timetravel" -> ((s, dir) => {
      // versioned metadata: v1 = orders with status O only; v2 deletes O and
      // appends F. The as-of-v1 read must see EXACTLY the v1 content even
      // though the latest commit replaced it (Delta/Iceberg-style snapshot).
      val base = scratch(dir)
      val orders = t(s, dir, "orders")
      // delete-first: an overwrite CONTINUES the version line, so on a
      // reused scratch dir "as of version 1" would point at a vacuumed
      // incarnation; a fresh dataset pins v1/v2 deterministically
      if (graft.ktk.DatasetMetadata.exists(s, base, "orders_tt"))
        graft.ktk.DatasetMetadata.delete(s, base, "orders_tt")
      Ktk.store(s, base, "orders_tt", orders.filter(col("o_orderstatus") === "O"),
        partitionOn = Seq("o_orderstatus"))
      Ktk.update(s, base, "orders_tt",
        Some(orders.filter(col("o_orderstatus") === "F")),
        deleteScope = Predicates.of(Seq(("o_orderstatus", "==", "O"))))
      Ktk.readTableAsOf(s, base, "orders_tt", 1L,
        columns = Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_ktk_evolve" -> ((s, dir) => {
      // additive schema evolution: v1 holds status-O orders without o_note;
      // the evolving commit appends F orders carrying the new column. Old
      // files read the evolved column as null.
      val base = scratch(dir)
      val orders = t(s, dir, "orders")
      Ktk.store(s, base, "orders_ev",
        orders.filter(col("o_orderstatus") === "O")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        overwrite = true)
      Ktk.update(s, base, "orders_ev",
        Some(orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            (col("o_orderkey") * 2).as("o_note"))),
        evolveSchema = true)
      Ktk.readTable(s, base, "orders_ev").orderBy("o_orderkey")
    }),

    "q_ktk_dispatch" -> ((s, dir) => {
      // dispatch_by co-grouping: content equivalence after repartition
      val base = ensureLineitemDs(s, dir)
      Ktk.readTable(s, base, "lineitem", columns = Seq("l_returnflag", "l_orderkey", "l_quantity"),
        dispatchBy = Seq("l_returnflag"))
        .groupBy("l_returnflag").agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "q_dsv2_scan" -> ((s, dir) => {
      // the DataSource V2 surface: spark.read.format("graft") with
      // filter/projection pushdown through Catalyst
      val base = ensureLineitemDs(s, dir)
      s.read.format("graft").option("uuid", "lineitem").load(base)
        .filter(col("l_returnflag") === "A" && col("l_quantity") >= 48.0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q_dsv2_dv" -> ((s, dir) => {
      // DV-aware DSv2 batch scan: the connector APPLIES pending deletion
      // vectors (clean/dirty split like Ktk.readTable — only files the
      // vectors touch pay a row-position filter; clean files keep the
      // stock vectorized path). In-query pins: the plan contains the DV
      // scan, the split has BOTH sides, and only files of the deleted
      // partition are dirty.
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/dsv2dv", {
        Ktk.store(s, base, "orders_dv2",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus"), overwrite = true)
        Ktk.deleteRows(s, base, "orders_dv2",
          predicates = Predicates.of(Seq(("o_orderstatus", "==", "F"),
            ("o_totalprice", ">", 100000.0))))
        ()
      })
      val md = graft.ktk.DatasetMetadata.load(s, base, "orders_dv2")
      val scan = new graft.sources.GraftScanBuilder(base, md,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())).build()
      scan match {
        case g: graft.sources.GraftDvScan =>
          val parts = g.planInputPartitions()
            .collect { case p: graft.sources.GraftDvInputPartition => p }
          val dirty = parts.filter(_.dirtyLabel.isDefined)
          val clean = parts.filter(_.dirtyLabel.isEmpty)
          require(dirty.nonEmpty && clean.nonEmpty,
            s"DV split regressed: dirty=${dirty.size} clean=${clean.size}")
          require(dirty.forall(_.dirtyLabel.get.contains("o_orderstatus=F")),
            "only the deleted partition's files should pay the tombstone filter")
        case other => throw new IllegalStateException(
          s"expected GraftDvScan over a DV-bearing dataset, got ${other.getClass}")
      }
      val df = s.read.format("graft").option("uuid", "orders_dv2").load(base)
        .filter(col("o_totalprice") > 50000.0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
      // with GraftExtensions active the ACTUAL read plans the logical
      // union split: the clean majority keeps its own fully-VECTORIZED
      // BatchScanExec, only tombstone-touched files read row-based
      val root = df.queryExecution.executedPlan match {
        // orderBy adds an exchange, so AQE wraps the plan — pin inside it
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = root.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.size == 2,
        s"expected the DV union split (clean + dirty scan), got ${scans.size} scans")
      require(scans.exists(b =>
          b.scan.isInstanceOf[graft.sources.GraftStreamableScan] && b.supportsColumnar),
        "clean side must keep the vectorized parquet reader while tombstones pend")
      require(scans.exists(_.scan.isInstanceOf[graft.sources.GraftDvDirtyScan]),
        "dirty side must read through the tombstone-filtering scan")
      df
    }),

    "q_dsv2_dpp" -> ((s, dir) => {
      // dynamic partition pruning through the connector: a star join whose
      // dim side reduces the join keys to a subset of partitions plants a
      // runtime IN filter on the graft scan (SupportsRuntimeV2Filtering —
      // Spark's FileScan doesn't implement it, the connector does), and the
      // re-planned scan drops the other partitions' files before reading.
      // In-query pins: the physical plan carries the dynamicpruning
      // subquery and the prune counter moved.
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/dsv2dpp", {
        Ktk.store(s, base, "li_dpp",
          t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity",
            "l_extendedprice"),
          partitionOn = Seq("l_returnflag"), overwrite = true)
        ()
      })
      val fact = s.read.format("graft").option("uuid", "li_dpp").load(base)
      // FILE-backed dim whose SELECTIVE filter is on a NON-join column:
      // filtering the join key itself would let constraint propagation
      // prune statically (no runtime filter needed), and a local relation
      // folds its filter at planning — either defeats the rule under test
      val dimPath = s"$base/dpp_dim"
      if (!new java.io.File(dimPath).exists())
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"))
          .distinct()
          .withColumn("is_r", when(col("flag") === "R", 1L).otherwise(0L))
          .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath).filter(col("is_r") === 1L)
      graft.sources.GraftRuntimePrune.lastDropped.set(0)
      val joined = fact.join(dim, col("l_returnflag") === col("flag"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("total"))
        .orderBy("l_returnflag")
        .select("l_returnflag", "cnt", "total")
      val out = joined.collect()
      require(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "expected a dynamicpruning runtime filter on the graft scan")
      require(graft.sources.GraftRuntimePrune.lastDropped.get() > 0,
        "runtime pruning should drop the non-matching partitions' files")
      s.createDataFrame(java.util.Arrays.asList(out: _*), joined.schema)
    }),

    "q_ktk_zonemap" -> ((s, dir) => {
      // metadata-level data skipping: per-file [min, max] ranges on the
      // timestamp column answer a range predicate without opening footers
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/zonemap", {
        Ktk.store(s, base, "li_zoned", t(s, dir, "lineitem"),
          partitionOn = Seq("l_returnflag"), sortBy = Seq("l_shipdate"),
          zoneMapFor = Seq("l_shipdate", "l_quantity"), overwrite = true)
        ()
      })
      Ktk.readTable(s, base, "li_zoned",
        columns = Seq("l_orderkey", "l_linenumber", "l_quantity"),
        predicates = Predicates.of(Seq(("l_shipdate", ">=", "2000-06-01"),
          ("l_shipdate", "<", "2000-08-01"), ("l_quantity", ">", 25.0))))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q_ktk_zorder" -> ((s, dir) => {
      // Z-ORDER layout rewrite: files tight in BOTH (l_partkey, l_suppkey)
      // at once, so zone maps skip files on a point predicate over the
      // SECOND clustered column — the thing a plain leading-column sort
      // cannot give (ZOrderSpec pins the plain-sort comparison). The gate
      // asserts the pruning actually scheduled fewer files, then returns
      // the rows for the DuckDB hash match.
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/zorder", {
        Ktk.store(s, base, "li_zorder", t(s, dir, "lineitem").repartition(8),
          overwrite = true)
        val md0 = graft.ktk.DatasetMetadata.load(s, base, "li_zorder")
        val total = md0.partitions.keys.map(md0.sizeOf).sum
        Ktk.clusterZOrder(s, base, "li_zorder", Seq("l_partkey", "l_suppkey"),
          targetFileBytes = math.max(64L * 1024, total / 12))
        ()
      })
      val md = graft.ktk.DatasetMetadata.load(s, base, "li_zorder")
      val pruned = Ktk.queryLabels(s, base, md,
        Predicates.of(Seq(("l_suppkey", "==", 1L))))
      require(md.partitions.size < 8 || pruned.size < md.partitions.size,
        s"z-order zone pruning failed: ${pruned.size}/${md.partitions.size} " +
          "files scheduled for a second-column point predicate")
      Ktk.readTable(s, base, "li_zorder",
        columns = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
        predicates = Predicates.of(Seq(("l_suppkey", "==", 1L))))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_bloom_prune" -> ((s, dir) => {
      // per-file Bloom sidecar: equality/IN skipping on a high-cardinality
      // key with NO partitioning and NO index — only the blooms prune.
      // At 100 TB this answers point lookups touching O(1) files instead of
      // scanning every footer (BloomSpec pins the pruning itself).
      val base = ensureOrdersBloomDs(s, dir)
      Ktk.readTable(s, base, "orders_bloom",
        columns = Seq("o_orderkey", "o_custkey", "o_totalprice"),
        predicates = Predicates.of(Seq(("o_orderkey", "in", Seq(1L, 2L, 3L, 7L)))))
        .withColumn("o_totalprice", round(col("o_totalprice"), 2))
        .orderBy("o_orderkey")
    }),

    "q_bloom_semijoin" -> ((s, dir) => {
      // catalog-level dynamic file pruning: a small dimension filter's keys
      // prune the fact files through the o_custkey bloom sidecar, then the
      // residual IN keeps the result exactly the semi join — the 100 TB
      // dim-filter-then-fact-probe shape without a full fact scan
      val base = ensureOrdersBloomDs(s, dir)
      val probe = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") < 40)
        .select(col("c_custkey"))
      Ktk.semiJoinRead(s, base, "orders_bloom", "o_custkey", probe)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_ktk_bucketed" -> ((s, dir) => {
      // hash-bucket shuffle write: same content, bounded files per dir
      // (built once per scale dir; q_ktk_update times the write path)
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/bucketed", {
        Ktk.store(s, base, "part_bucketed", t(s, dir, "part"),
          partitionOn = Seq("p_brand"), bucketBy = Seq("p_partkey"), numBuckets = 8,
          overwrite = true)
        ()
      })
      Ktk.readTable(s, base, "part_bucketed",
        columns = Seq("p_partkey", "p_brand", "p_retailprice"))
        .orderBy("p_partkey")
    }),

    "q_dsv2_agg" -> ((s, dir) => {
      // count/min/max answered from parquet FOOTERS via DSv2 aggregate
      // pushdown (AggPushdownSpec pins the PushedAggregation plan) — a
      // 100 TB count(*) touches no data pages
      val base = ensureLineitemDs(s, dir)
      s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s.read.format("graft").option("uuid", "lineitem").load(base)
        .agg(count(lit(1)).as("cnt"),
          min(col("l_orderkey")).as("mn_key"), max(col("l_orderkey")).as("mx_key"))
    }),

    "q_dsv2_agg_where" -> ((s, dir) => {
      // footer-only aggregate UNDER a partition filter: the scan builder
      // consumes the exact-partition predicate (label pruning enforces it),
      // so no residual remains and the count/min/max still answer from the
      // pruned files' footers. In-gate pin: PushedAggregation survives the
      // WHERE.
      val base = ensureLineitemDs(s, dir)
      s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val agg = s.read.format("graft").option("uuid", "lineitem").load(base)
        .filter(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("cnt"),
          min(col("l_orderkey")).as("mn_key"), max(col("l_orderkey")).as("mx_key"))
      require(agg.queryExecution.executedPlan.toString.contains("PushedAggregation: [COUNT(*)"),
        "partition-filtered aggregate must still push to parquet footers")
      agg
    }),

    "q_spj_merge" -> ((s, dir) => {
      // storage-partitioned join: both datasets hive-partitioned on
      // l_returnflag merge through the keyed DSv2 scan with ZERO shuffle
      // (KeyGroupedPartitioning; the reference's partition-aligned merge,
      // io_components/merge.py:25-128). Pinned shuffle-free in SpjSpec.
      val base = ensureLineitemDs(s, dir)
      built.getOrElseUpdate(s"$base/li_summary", {
        val summary = t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("grp_cnt"))
        Ktk.store(s, base, "li_summary", summary,
          partitionOn = Seq("l_returnflag"), overwrite = true)
        ()
      })
      Ktk.mergeDatasets(s, base, "lineitem", "li_summary", "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"), col("grp_cnt"))
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    }),

    "q_ktk_twophase" -> ((s, dir) => {
      // external-committer workflow: header first, two independent
      // partition writes, ONE publishing commit
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/twophase", {
        val cust = t(s, dir, "customer")
        Ktk.createEmpty(s, base, "cust_2p", cust.schema,
          partitionOn = Seq("c_mktsegment"), overwrite = true)
        val l1 = Ktk.writePartition(s, base, "cust_2p",
          cust.filter(col("c_custkey") % 2 === 0))
        val l2 = Ktk.writePartition(s, base, "cust_2p",
          cust.filter(col("c_custkey") % 2 =!= 0))
        Ktk.commit(s, base, "cust_2p", l1 ++ l2)
        ()
      })
      Ktk.readTable(s, base, "cust_2p",
        columns = Seq("c_custkey", "c_mktsegment", "c_acctbal"),
        predicates = Predicates.of(Seq(("c_mktsegment", "==", "BUILDING"))))
        .withColumn("c_acctbal", round(col("c_acctbal"), 2))
        .orderBy("c_custkey")
    }),

    "q_ktk_compact" -> ((s, dir) => {
      // maintenance: fragmented incremental commits → compact (one atomic
      // commit, per-seq merge) → GC; reads stay identical throughout
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/compact", {
        val sup = t(s, dir, "supplier")
        Ktk.store(s, base, "sup_frag", sup.filter(col("s_suppkey") % 2 === 0).repartition(8),
          partitionOn = Seq("s_nationkey"), secondaryIndices = Seq("s_name"),
          overwrite = true)
        Ktk.update(s, base, "sup_frag",
          Some(sup.filter(col("s_suppkey") % 2 =!= 0).repartition(8)))
        Ktk.compact(s, base, "sup_frag", smallFileBytes = 32L << 20)
        Ktk.garbageCollect(s, base, "sup_frag")
        ()
      })
      Ktk.readTable(s, base, "sup_frag",
        columns = Seq("s_suppkey", "s_nationkey", "s_acctbal"),
        predicates = Predicates.of(Seq(("s_nationkey", "in", Seq(0, 1, 2)))))
        .withColumn("s_acctbal", round(col("s_acctbal"), 2))
        .orderBy("s_suppkey")
    }),

    "q_ktk_history" -> ((s, dir) => {
      // commit-lineage observability: a known operation sequence must
      // report deterministic (version, operation, files, fragments) rows —
      // the in-commit operation stamp, display-gated on the stamping
      // commit's own version (DESCRIBE HISTORY parity). committed_at is
      // wall-clock and stays out of the oracle projection.
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/hist_gate2", {
        // suppkey ranges stay inside [1, 100] so the fixture is identical
        // at every sf (sf0.01 supplier has exactly 100 rows). The gate pins
        // HISTORY LENGTH, so a stale scratch incarnation must be deleted —
        // store(overwrite=true) CONTINUES the version line by design
        graft.ktk.DatasetMetadata.delete(s, base, "hist_gate2")
        val sup = t(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
        Ktk.store(s, base, "hist_gate2", sup.filter(col("s_suppkey") <= 60).coalesce(1),
          overwrite = true) // v1 WRITE, 1 file
        Ktk.update(s, base, "hist_gate2",
          Some(sup.filter(col("s_suppkey") > 60 && col("s_suppkey") <= 100)
            .repartition(2))) // v2 WRITE, +2 small files sharing one seq
        Ktk.deleteRows(s, base, "hist_gate2",
          predicates = Predicates.of(Seq(("s_suppkey", "<=", 10)))) // v3 DELETE, 1 fragment
        Ktk.merge(s, base, "hist_gate2",
          sup.filter(col("s_suppkey") === 50).withColumn("s_acctbal", lit(0.0)),
          keys = Seq("s_suppkey")) // v4 MERGE
        Ktk.compact(s, base, "hist_gate2") // v5 COMPACT: folds tombstones
        ()
      })
      Ktk.history(s, base, "hist_gate2")
        .select(col("version"), col("operation"),
          col("files_added"), col("files_removed"), col("tombstone_fragments"))
        .orderBy("version")
    }),

    "q_ktk_adopt" -> ((s, dir) => {
      // migration: write the reference layout, adopt it in place, then
      // query through the FULL managed surface with zone-map pruning
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/adopt", {
        graft.ktk.KartothekInterop.write(s, base, "supplier_v4", t(s, dir, "supplier"),
          partitionOn = Seq("s_nationkey"), overwrite = true)
        val v4 = graft.ktk.KartothekInterop.load(s, base, "supplier_v4")
        graft.ktk.KartothekInterop.adoptAsGraft(s, base, v4, zoneMapFor = Seq("s_acctbal"))
        ()
      })
      Ktk.readTable(s, base, "supplier_v4",
        columns = Seq("s_suppkey", "s_nationkey", "s_acctbal"),
        predicates = Predicates.of(Seq(("s_acctbal", ">", 2000.0))))
        .withColumn("s_acctbal", round(col("s_acctbal"), 2))
        .withColumn("s_nationkey", col("s_nationkey").cast("long"))
        .orderBy("s_suppkey")
    }),

    "q_ktk_interop" -> ((s, dir) => {
      // reference-layout interop: write the v4 migration layout once per
      // scale dir (JSON metadata + files dicts + embedded index), then read
      // it back with partition-key AND secondary-index pruning
      val base = scratch(dir)
      built.getOrElseUpdate(s"$base/interop", {
        graft.ktk.KartothekInterop.write(s, base, "orders_v4", t(s, dir, "orders"),
          partitionOn = Seq("o_orderstatus"), secondaryIndices = Seq("o_orderpriority"),
          overwrite = true)
        ()
      })
      val ds = graft.ktk.KartothekInterop.load(s, base, "orders_v4")
      graft.ktk.KartothekInterop.readTable(s, base, ds,
        columns = Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"),
        predicates = Predicates.of(Seq(("o_orderstatus", "==", "F"),
          ("o_orderpriority", "==", "1-URGENT"), ("o_totalprice", ">", 150000.0))))
        .withColumn("o_totalprice", round(col("o_totalprice"), 2))
        .orderBy("o_orderkey")
    }),

    "q_cube_extend" -> ((s, dir) => {
      // extend an existing cube with a derived enrichment dataset, then
      // query across all three
      val base = scratch(dir)
      val cube = CubeDef("tpchx", dimensionColumns = Seq("o_custkey", "o_orderkey"),
        partitionColumns = Seq("bucket"))
      built.getOrElseUpdate(s"$base/cubex", {
        val seed = t(s, dir, "orders").withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        Cube.build(s, base, cube, Map("seed" -> seed), overwrite = true)
        val flags = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            pmod(col("o_custkey"), lit(4)).as("bucket"),
            when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("is_urgent"))
        Cube.extend(s, base, cube, Map("flags" -> flags), overwrite = true)
        ()
      })
      Cube.query(s, base, cube,
        conditions = Predicates.of(Seq(("o_totalprice", ">", 250000.0))),
        payload = Seq("o_totalprice", "is_urgent"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("is_urgent"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // -------------------------------------------------- joins / cube
    "q_join_left" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
      o.join(c.hint("broadcast"), Seq("o_custkey"), "left")
        .filter(col("o_totalprice") > 250000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_join_inner_multi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c.hint("broadcast"), o("o_custkey") === c("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING" && col("o_orderstatus") === "F")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .withColumn("c_nationkey", col("c_nationkey").cast("long"))
        .orderBy("c_nationkey")
    }),

    "q_cube_query" -> ((s, dir) => {
      val (base, cube) = ensureOrdersCube(s, dir)
      Cube.query(s, base, cube,
        conditions = Predicates.of(Seq(("c_mktsegment", "==", "BUILDING"), ("o_totalprice", ">", 100000.0))),
        payload = Seq("o_totalprice", "c_mktsegment", "c_acctbal"))
        .select(col("o_custkey"), col("o_orderkey"), col("bucket"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_cube_append" -> ((s, dir) => {
      // append_to_cube: an appended seed slice lands as a new overlay
      // commit; a query over the union of old+new cells must see exactly
      // base ∪ appended (fresh dimension values — no keep-last collision).
      // Built on its OWN cube so the shared ensureOrdersCube fixture stays
      // append-free for the other gates.
      val base = scratch(dir)
      val cube = CubeDef("tpchapp", dimensionColumns = Seq("o_custkey", "o_orderkey"),
        partitionColumns = Seq("bucket"))
      built.getOrElseUpdate(s"$base/cubeapp", {
        val orders = t(s, dir, "orders")
        val seed0 = orders.filter(col("o_orderkey") % 5 =!= 0)
          .withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        Cube.build(s, base, cube, Map("seed" -> seed0), overwrite = true)
        val extra = orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        Cube.append(s, base, cube, Map("seed" -> extra))
        ()
      })
      Cube.query(s, base, cube, payload = Seq("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("bucket")
    }),

    "q_cube_remove" -> ((s, dir) => {
      // remove_partitions (≙ io/eager_cube.py:618-696): a condition on a
      // PARTITION column deletes the overlapping partitions in one commit;
      // the next query sees exactly the surviving partitions (exact
      // oracle rebuilds the same post-removal state from orders)
      val base = scratch(dir)
      val cube = CubeDef("tpchrm", dimensionColumns = Seq("o_custkey", "o_orderkey"),
        partitionColumns = Seq("bucket"))
      built.getOrElseUpdate(s"$base/cuberm", {
        val seed0 = t(s, dir, "orders")
          .withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        Cube.build(s, base, cube, Map("seed" -> seed0), overwrite = true)
        Cube.removePartitions(s, base, cube, Seq("seed"),
          Predicates.of(Seq(("bucket", "==", 3))))
        ()
      })
      Cube.query(s, base, cube, payload = Seq("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("bucket")
    }),

    "q_ktk_delete_ds" -> ((s, dir) => {
      // delete dataset (metadata-last): the victim disappears from the
      // catalog, its NEIGHBOR's content is untouched (exact oracle)
      val base = scratch(dir)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      Ktk.store(s, base, "orders_keep", orders, overwrite = true)
      Ktk.store(s, base, "orders_victim", orders.limit(10), overwrite = true)
      graft.ktk.DatasetMetadata.delete(s, base, "orders_victim")
      require(!graft.ktk.DatasetMetadata.exists(s, base, "orders_victim"),
        "deleted dataset still listed")
      Ktk.readTable(s, base, "orders_keep")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    "q_cube_stats" -> ((s, dir) => {
      // cube stats reduction (collect_stats): per-dataset row counts from
      // footer metadata only — file/row-group counts are layout-dependent
      // and stay ScalaTest-pinned, the row counts get the exact oracle
      val (base, cube) = ensureOrdersCube(s, dir)
      Cube.collectStats(s, base, cube)
        .select(col("dataset"), col("rows").as("n_rows"))
        .orderBy("dataset")
    }),

    "q_cube_dv" -> ((s, dir) => {
      // cube query over a DV-bearing seed: row-level deletes on the seed
      // dataset must disappear from the joined cube result end-to-end
      // (overlay + deletion-vector composition, CubeSpec's unit pin
      // proven against the DuckDB reconstruction here)
      val base = scratch(dir)
      val cube = CubeDef("tpchdv", dimensionColumns = Seq("o_custkey", "o_orderkey"),
        partitionColumns = Seq("bucket"))
      built.getOrElseUpdate(s"$base/cubedv", {
        val seed = t(s, dir, "orders").withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        val cust = t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
          .withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        Cube.build(s, base, cube, Map("seed" -> seed, "cust" -> cust), overwrite = true)
        // live tombstones on the SEED (no materialization — the cube read
        // path itself must apply them)
        Ktk.deleteRows(s, base, cube.uuid("seed"),
          predicates = Predicates.of(Seq(("o_totalprice", ">", 250000.0))))
        ()
      })
      require(graft.ktk.DatasetMetadata.load(s, base, cube.uuid("seed"))
          .deleteFragments.nonEmpty, "seed should carry live deletion vectors")
      Cube.query(s, base, cube,
        conditions = Predicates.of(Seq(("c_mktsegment", "==", "AUTOMOBILE"))),
        payload = Seq("o_totalprice", "c_mktsegment"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("c_mktsegment"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_cube_interval" -> ((s, dir) => {
      // typed condition sugar: C("col").inInterval(lo, hi) & C("col") === v
      // compiled to the shared DNF predicate core
      import graft.core.C
      val (base, cube) = ensureOrdersCube(s, dir)
      Cube.query(s, base, cube,
        conditions = (C("o_totalprice").inInterval(100000.0, 200000.0) &
          (C("c_mktsegment") === "MACHINERY")).toPredicates,
        payload = Seq("o_totalprice", "c_mktsegment"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("c_mktsegment"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_cube_left" -> ((s, dir) => {
      // no condition on cust payload => left join keeps all orders
      val (base, cube) = ensureOrdersCube(s, dir)
      Cube.query(s, base, cube, conditions = Predicates.of(Seq(("o_totalprice", ">", 290000.0))),
        payload = Seq("o_totalprice", "c_mktsegment"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("c_mktsegment"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // -------------------------------------------------- agg / dedup / sets
    "q_dedup_keeplast" -> ((s, dir) => {
      // keep-last per mktsegment with explicit deterministic order
      Cube.dedupKeepLastOrdered(t(s, dir, "customer"), Seq("c_mktsegment"),
        Seq(col("c_custkey").desc))
        .select(col("c_mktsegment"), col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("c_mktsegment")
    }),

    "q_dup_check" -> ((s, dir) => {
      // duplicate-cell detection on a key known to contain dups
      t(s, dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .groupBy().agg(count(lit(1)).as("dup_groups"), sum("n").as("dup_rows"))
    }),

    "q_collect_list" -> ((s, dir) => {
      // scalar (comma-joined) emission: the driver's pandas hash-compare
      // cannot hash array cells, so the list surface is proven via a sorted
      // string rendering with an identical DuckDB rendering on the oracle side
      t(s, dir, "nation")
        .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy("n_regionkey")
    }),

    "q_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_totalprice") > 280000.0)
        .unionByName(o.filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 270000.0))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey", "o_totalprice")
    }),

    "q_sort" -> ((s, dir) => {
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
        .sort(col("s_acctbal").desc, col("s_suppkey").asc)
    }),

    "q_normalize_types" -> ((s, dir) => {
      graft.core.SchemaUtil.normalize(t(s, dir, "customer"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    "q_events_agg" -> ((s, dir) => {
      // events.ts is TIMESTAMP_NTZ(µs) parquet (driver testdata switched
      // from TIMESTAMP(NANOS) in round 7); session UTC keeps the epoch
      // math identical to DuckDB's naive-timestamp functions
      val ev = t(s, dir, "events")
      ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("day", "event_type")
    }),

    "q_resample" -> ((s, dir) => {
      // 6-hour grid per user with gap-fill + forward fill
      val ev = t(s, dir, "events")
        .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
      graft.ops.TimeSeries.resample(ev, Seq("user_id"), "ts_ms", "value",
        stepMs = 6L * 3600 * 1000)
        .orderBy("user_id", "bucket_ms")
    }),

    "q_asof_join" -> ((s, dir) => {
      // as-of join: each click event picks the user's latest purchase value
      // at or before it (temporal operator Spark lacks; composed plan, one
      // keyed shuffle)
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_millis(col("ts").cast("timestamp")).as("ms"),
          col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ms", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("rms"), col("value").as("last_purchase"))
      graft.ops.Joins.asofJoin(clicks, purchases, Seq("user_id"), "ms", "rms", Seq("last_purchase"))
        .select(col("user_id"), col("ms"), round(col("value"), 2).as("click_value"),
          round(col("last_purchase"), 2).as("last_purchase"))
        .orderBy("user_id", "ms")
    }),

    "q_salted_join" -> ((s, dir) => {
      // skew-safe salted join must be result-identical to the plain join
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.Joins.saltedJoin(li, o, Seq("l_orderkey"), salt = 8)
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("l_returnflag", "o_orderpriority")
    }),

    "q_grouping_sets" -> ((s, dir) => {
      // GROUP BY CUBE over two dims (the reference's "cube" is data
      // modeling; this is the analytic grouping-sets surface)
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q_range_join" -> ((s, dir) => {
      // interval join: clicks inside each purchase's 1-hour attribution
      // window (same user) — chunked equi-join, not a nested loop
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_millis(col("ts").cast("timestamp")).as("ms"),
          col("event_type"))
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ms")
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("start_ms"),
          (col("ms") + 3600000L).as("end_ms"))
      graft.ops.Joins.rangeJoin(clicks, windows, Seq("user_id"), "ms", "start_ms", "end_ms",
        chunk = 3600000L)
        .groupBy("user_id", "start_ms").agg(count(lit(1)).as("n_clicks"))
        .orderBy("user_id", "start_ms")
    }),

    "q_json_extract" -> ((s, dir) => {
      // scalar-function surface beyond the reference: JSON prop extraction
      val ev = t(s, dir, "events")
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") >= 90)
        .orderBy("event_id")
    }),

    "q_stream_sessionize" -> ((s, dir) => {
      // stateful streaming (flatMapGroupsWithState) sessionization over the
      // events table, AvailableNow; closed sessions only (Append semantics)
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.Sessionize
      val name = "sess_" + Integer.toHexString(dir.hashCode)
      val stageDir = java.nio.file.Paths.get(scratch(dir), "events_stream")
      java.nio.file.Files.createDirectories(stageDir)
      val target = stageDir.resolve("events.parquet")
      stageFileOnce(java.nio.file.Paths.get(s"$dir/events.parquet"), target)
      val schema = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
      import s.implicits._
      val events = s.readStream.schema(schema).parquet(stageDir.toString)
        // µs → ms flooring via unix_millis matches DuckDB's epoch_ms
        .select(col("user_id").as("userId"),
          unix_millis(col("ts").cast("timestamp")).as("tsMs"),
          col("value"))
        .as[Sessionize.Event]
      val q = Sessionize.sessionize(events, gapMs = 3600000L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
          col("endMs").as("end_ms"), col("nEvents").as("n_events"),
          round(col("sumValue"), 2).as("sum_value"))
        .orderBy("user_id", "start_ms")
    }),

    // -------------------------------------------------- pipeline: dedup
    "q_dedup_exact" -> ((s, dir) => {
      // plant exact duplicates, dedup by content hash keeping min id
      val d = t(s, dir, "documents")
      val dup = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactByHash(dup, "doc_id", "text")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // cross-run ingest dedup: the new batch (even doc_ids) filters
      // against the already-ingested corpus (doc_ids not divisible by 3)
      // through a broadcast Bloom sketch + exact broadcast confirm —
      // history text is never re-read and its hash column never shuffles
      // (DedupIncrementalSpec pins the broadcast-only plan)
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 2 === 0)
      Dedup.exactAgainstHistory(batch, history, "text")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    "q_dedup_minhash_incr" -> ((s, dir) => {
      // cross-run NEAR-dedup: a new crawl batch filters against the
      // already-ingested corpus represented ONLY by its persisted minhash
      // signature table (history text never re-read, history never
      // shuffled — broadcast-pruned banded scan, DedupIncrementalSpec pins
      // the plan). Batch = prefix-mutated near-copies of history (must ALL
      // drop — exact recall gate) ∪ fresh docs, which mostly survive: the
      // synthetic corpus has a natural near-dup tail (~6% of fresh docs
      // genuinely match history at 0.6, correctly dropped), so the fresh
      // side is a measured ≥90% floor, ANN-gate style.
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      // history signatures are PERSISTED in the operator's contract (the
      // whole point is never re-reading history text) — build the
      // signature table once per scale dir and read it back like the real
      // pipeline would; the measured work is the batch-side pass + the
      // banded probe, not fixture construction
      // the path carries the kernel version: a kernel bump must rebuild the
      // cached fixture, not trip the (correct) loud version-mismatch check
      val sigPath = java.nio.file.Paths.get(scratch(dir), "minhash_incr_sigs_k2.parquet")
      // gate on the _SUCCESS marker, not the directory: a crashed first
      // write leaves a partial dir that would poison every later run
      if (!java.nio.file.Files.exists(sigPath.resolve("_SUCCESS")))
        Dedup.minhashSignatures(history, "doc_id", "text")
          .write.mode("overwrite").parquet(sigPath.toString)
      val sigs = s.read.parquet(sigPath.toString)
      val fresh = docs.filter(col("doc_id") % 3 === 0)
      // r16 perf: each doc lands in the batch exactly once (as a mutated
      // near-copy when it is history, untouched when fresh) — one scan and
      // one CASE instead of the two filtered branches the old
      // nearCopies∪fresh union read separately (rows identical; the gate's
      // own recall/floor invariants re-proven)
      val batch = docs.select(
        when(col("doc_id") % 3 =!= 0, col("doc_id") + 1000000)
          .otherwise(col("doc_id")).as("doc_id"),
        when(col("doc_id") % 3 =!= 0, concat(lit("xqzy "), col("text")))
          .otherwise(col("text")).as("text"))
      val out = Dedup.minhashAgainstHistory(batch, "doc_id", "text", sigs, threshold = 0.6)
      val agg = out.groupBy().agg(
        count(lit(1)).as("survivors"),
        sum(when(col("doc_id") >= 1000000, 1L).otherwise(0L)).as("near_copy_survivors"),
        min("doc_id").as("min_id"))
      val row = agg.collect()(0)
      val (survivors, nearSurvivors) = (row.getLong(0), row.getLong(1))
      val freshCount = fresh.count()
      require(nearSurvivors == 0 && survivors <= freshCount &&
          survivors >= (0.9 * freshCount).toLong,
        s"incremental minhash regressed: $nearSurvivors near-copies survived, " +
          s"$survivors survivors vs $freshCount fresh docs (floor 90%)")
      // the invariant collect above already executed the probe — return its
      // row instead of a plan that would re-run the whole pipeline when the
      // caller materializes (r16: the gate computed everything TWICE)
      s.createDataFrame(java.util.List.of(row), agg.schema)
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      // plant near-duplicates (prefix mutation), near-dedup at 0.6.
      // r16 perf: original+mutated from ONE scan + explode instead of a
      // self-union that decoded the parquet twice (rows identical)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(array(lit(0L), lit(1000000L))).as("__off"))
        .select((col("doc_id") + col("__off")).as("doc_id"),
          when(col("__off") === 0L, col("text"))
            .otherwise(concat(lit("xqzy "), col("text"))).as("text"))
      Dedup.minhashDedup(d, "doc_id", "text", threshold = 0.6)
        .groupBy().agg(count(lit(1)).as("survivors"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    }),

    "q_dedup_minhash_exact" -> ((s, dir) => {
      // the minhash pipeline cross-checked against EXACT shingle Jaccard:
      // at this fixture scale (39 docs + planted near-copies) DuckDB
      // recomputes J over distinct 5-char shingles of the SAME normalized
      // text and applies the loser rule (id_b of any pair with J >= τ) —
      // every survivor/victim decision is verified, not just counts. The
      // fixture's pairwise J is either ≤0.28 or ≥0.92 (measured), so the
      // b-bit estimate and the exact value make identical τ=0.6 decisions
      // and the seeded hash family keeps the run deterministic.
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 40 && length(col("text")) >= 60)
      val mutated = d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(lit("xqzy "), col("text")))
      Dedup.minhashDedup(d.unionByName(mutated), "doc_id", "text", threshold = 0.6)
        .select("doc_id").orderBy("doc_id")
    }),

    "q_dedup_minhash_cc" -> ((s, dir) => {
      // transitive-closure dedup: chains A~B~C collapse to one survivor.
      // r16 perf: the original∪v1∪v2 fixture is ONE scan + explode instead
      // of a 3-branch union that read and decoded the parquet three times —
      // identical rows (oracle re-proven), 1/3 the input pass
      Dedup.minhashDedupCC(variantFixture(t(s, dir, "documents")),
          "doc_id", "text", threshold = 0.6)
        .groupBy().agg(count(lit(1)).as("survivors"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    }),

    "q_dedup_minhash_best" -> ((s, dir) => {
      // quality-aware survivor policy: each near-dup component keeps its
      // LONGEST member — the v2-mutated copies are strictly longer than the
      // originals, so survivors should come from the high-id variants.
      // r16 perf: single-scan explode fixture (see q_dedup_minhash_cc)
      Dedup.minhashDedupCCKeepBest(variantFixture(t(s, dir, "documents")),
          "doc_id", "text", length(col("text")), threshold = 0.6)
        .groupBy().agg(count(lit(1)).as("survivors"), min("doc_id").as("min_id"),
          sum(when(col("doc_id") >= 2000000, 1L).otherwise(0L)).as("v2_survivors"))
    }),

    "q_dedup_minhash_cc_exact" -> ((s, dir) => {
      // transitive-closure dedup cross-checked END TO END: DuckDB
      // recomputes exact shingle Jaccard over the same normalized text,
      // builds the >=0.6 edge set, runs connected components as a
      // recursive CTE, and keeps each component's min id — the Spark
      // side (LSH banding → b-bit verify → GraphX CC) must produce the
      // IDENTICAL survivor set. Chains o~v1, o~v2 (and v1~v2) collapse
      // to the original even when two variants never share a bucket.
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 40 && length(col("text")) >= 60)
      val m1 = d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(lit("v1 "), col("text")))
      val m2 = d.withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(lit("v2 v2 "), col("text")))
      Dedup.minhashDedupCC(d.unionByName(m1).unionByName(m2),
          "doc_id", "text", threshold = 0.6)
        .select("doc_id").orderBy("doc_id")
    }),

    "q_dedup_minhash_best_exact" -> ((s, dir) => {
      // keep-best transitive-closure dedup cross-checked END TO END on the
      // J-separated fixture (pairwise exact Jaccard <=0.28 or >=0.92, so
      // the b-bit estimate makes identical τ=0.6 decisions): each o~v1~v2
      // clique must keep its LONGEST member — the 'v2 v2 '-prefixed copy —
      // and DuckDB replays the component build AND the (length, -id)
      // argmax per component.
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 40 && length(col("text")) >= 60)
      val m1 = d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(lit("v1 "), col("text")))
      val m2 = d.withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(lit("v2 v2 "), col("text")))
      Dedup.minhashDedupCCKeepBest(d.unionByName(m1).unionByName(m2),
          "doc_id", "text", length(col("text")), threshold = 0.6)
        .select("doc_id").orderBy("doc_id")
    }),

    "q_dedup_simhash_exact" -> ((s, dir) => {
      // simhash candidates cross-checked against the planted truth: exact
      // copies have hamming 0 (found via every band), while the fixture's
      // 40 distinct originals sit at pairwise hamming >= 5 (measured,
      // deterministic hashes) — so at maxHamming=3 the candidate set must
      // be EXACTLY the planted (id, id+1M, hamming=0) pairs: banding
      // recall, bucket pairing, the hamming filter and pair dedup all
      // verified against an independent reconstruction. (A near-dup
      // mutation can't gate exactly here: single-token edits land at
      // hamming 4-6 for some docs, overlapping the cross-pair floor.)
      val d = t(s, dir, "documents").filter(col("doc_id") < 40)
      val copies = d.withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.simhashCandidates(d.unionByName(copies), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming")).orderBy("id_a", "id_b")
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mutated = d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" zz")))
      Dedup.simhashCandidates(d.unionByName(mutated), "doc_id", "text", maxHamming = 3)
        .groupBy().agg(count(lit(1)).as("pairs"))
    }),

    "q_dedup_ngram" -> ((s, dir) => {
      // exact n-gram jaccard on planted pairs: (id, id+1M) mutated copies
      val d = t(s, dir, "documents").filter(col("doc_id") < 50)
      val mutated = d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(lit("one two three "), col("text")))
      val pairs = d.select(col("doc_id").as("id_a"), (col("doc_id") + 1000000).as("id_b"))
      Dedup.ngramJaccard(d.unionByName(mutated), pairs, "doc_id", "text", n = 3)
        .select(col("id_a"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a")
    }),

    "q_dedup_paragraph" -> ((s, dir) => {
      // cross-document paragraph dedup (FineWeb/Dolma pipeline step): only
      // the globally-first occurrence of each normalized paragraph survives;
      // docs reduced to nothing drop out. Two bounded shuffles — paragraph
      // hashes, then doc reassembly — no corpus joins, no driver state.
      // Single-line testdata gets deterministic 3-word lines first (same
      // regexp in the oracle).
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n").as("text"))
      Dedup.paragraphDedup(d, "doc_id", "text").orderBy("doc_id")
    }),

    "q_dedup_keepbest" -> ((s, dir) => {
      // exact-dup groups keep the highest-score copy (ties → least id); the
      // score varies WITHIN each planted pair (pmod 3), so the survivor set
      // provably differs from keep-first — some groups keep the copy
      val d = t(s, dir, "documents")
      val dup = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactKeepBest(dup, "doc_id", "text", pmod(col("doc_id"), lit(3)))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    "q_para_frequent" -> ((s, dir) => {
      // CCNet-style boilerplate rule: a line present in >2 distinct docs is
      // removed EVERYWHERE (vs q_dedup_paragraph's keep-first). Same 3-word
      // line split as the oracle; planted header hits every doc and must
      // vanish from all of them.
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("SHARED HEADER LINE\n"),
            regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n")).as("text"))
      Dedup.paragraphDedupFrequent(d, "doc_id", "text", maxDf = 2L).orderBy("doc_id")
    }),

    "q_para_keepbest" -> ((s, dir) => {
      // quality-aware paragraph dedup: each duplicated line survives in the
      // HIGHEST-scored doc (score = doc_id mod 5 — inverts keep-first order,
      // so the survivor set provably differs from q_dedup_paragraph); ties
      // → least (doc_id, pos). Same 3-word line split as the oracle.
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n").as("text"))
        .withColumn("score", pmod(col("doc_id"), lit(5)).cast("double"))
      Dedup.paragraphDedupKeepBest(d, "doc_id", "text", "score")
        .orderBy("doc_id")
    }),

    "q_text_boilerplate" -> ((s, dir) => {
      // plant identical header/footer lines into EVERY document; removal at
      // a high doc-frequency threshold must recover the originals exactly,
      // so the oracle is simply the untouched documents table
      val d = t(s, dir, "documents").select("doc_id", "text")
      val planted = d.withColumn("text",
        concat(lit("BOILERPLATE HEADER LINE\n"), col("text"), lit("\nBOILERPLATE FOOTER LINE")))
      Dedup.removeBoilerplate(planted, "doc_id", "text", minDocFreq = 400)
        .orderBy("doc_id")
    }),

    // -------------------------------------------------- pipeline: similarity
    "q_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "query_id", "qvec", 10)
        .select("query_id", "vec_id")
        .orderBy("query_id", "vec_id")
    }),

    "q_ann_radius" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.radiusSearch(e, q, "vec_id", "embedding", "query_id", "qvec", 0.25)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "vec_id")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // multi-probe LSH with a MEASURED differential self-oracle: recall
      // against bruteForceTopK on the same corpus is computed in-query and
      // asserted — this gate fails if bucketing quality regresses, not just
      // if the query errors. Floors sit at the deterministic per-scale-dir
      // observed values − 0.1 (see recallFloors), so a real regression —
      // e.g. losing the radius-2 probes — actually trips the gate
      // (AnnRecallGateSpec proves it).
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val approx = Similarity.lshTopKMultiProbe(
        e, q, "vec_id", "embedding", "query_id", "qvec", k = 10, dim = 64, bits = 6,
        probeRadius = 2)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "query_id", "qvec", 10)
      val rec = Similarity.recallVs(approx, exact, "query_id", "vec_id")
      val rows = rec.collect().map(r => r.getLong(0) -> r.getDouble(1))
      val (minFloor, meanFloor) = recallFloors(dir, "lsh")
      require(rows.length == 3 && rows.map(_._2).min >= minFloor &&
        rows.map(_._2).sum / rows.length >= meanFloor,
        s"lsh multi-probe recall regressed (floors min=$minFloor mean=$meanFloor): " +
          rows.mkString(", "))
      rec.select(col("query_id"), round(col("recall"), 4).as("recall")).orderBy("query_id")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF coarse-quantized ANN — the other 100TB scale path (nprobe=4 of
      // nlist=16 cells scanned per query instead of the full corpus); the
      // index is built once per scale dir and reused, as in production.
      // Recall vs brute force is measured in-query and asserted (seeded
      // k-means ⇒ deterministic; thresholds under the measured floor).
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val approx = Similarity.ivfTopKWithIndex(ivfIndexFor(s, dir), e, q,
        "vec_id", "embedding", "query_id", "qvec", k = 10, nprobe = 4)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "query_id", "qvec", 10)
      val rec = Similarity.recallVs(approx, exact, "query_id", "vec_id")
      val rows = rec.collect().map(r => r.getLong(0) -> r.getDouble(1))
      val (minFloor, meanFloor) = recallFloors(dir, "ivf")
      require(rows.length == 3 && rows.map(_._2).min >= minFloor &&
        rows.map(_._2).sum / rows.length >= meanFloor,
        s"ivf recall regressed (floors min=$minFloor mean=$meanFloor): ${rows.mkString(", ")}")
      rec.select(col("query_id"), round(col("recall"), 4).as("recall")).orderBy("query_id")
    }),

    "q_ann_pq" -> ((s, dir) => {
      // product-quantized ADC search: m-byte codes instead of 256-byte
      // vectors at scan time — the memory-scale ANN path. Codes are
      // encoded ONCE and persisted beside the dataset (the production
      // layout); the query scans only (id, code).
      val base = scratch(dir)
      val cb = pqFor(s, dir)
      built.getOrElseUpdate(s"$base/pq", {
        Similarity.pqEncode(t(s, dir, "embeddings"), "embedding", cb)
          .select("vec_id", "__pq")
          .write.mode("overwrite").parquet(s"$base/pq_codes")
        ()
      })
      val codes = s.read.parquet(s"$base/pq_codes")
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      // recall vs the exact brute-force twin is measured in-query and
      // asserted (codebooks are seeded-k-means deterministic per scale
      // dir), so ADC quantization quality cannot silently regress
      val approx = Similarity.pqTopK(codes, q, "vec_id", "query_id", "qvec", cb, k = 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "query_id", "qvec", 10)
      val rec = Similarity.recallVs(approx, exact, "query_id", "vec_id")
      val rows = rec.collect().map(r => r.getLong(0) -> r.getDouble(1))
      val (minFloor, meanFloor) = recallFloors(dir, "pq")
      require(rows.length == 3 && rows.map(_._2).min >= minFloor &&
        rows.map(_._2).sum / rows.length >= meanFloor,
        s"pq ADC recall regressed (floors min=$minFloor mean=$meanFloor): ${rows.mkString(", ")}")
      rec.select(col("query_id"), round(col("recall"), 4).as("recall")).orderBy("query_id")
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // the billion-scale composition: coarse cell id + m-byte PQ code per
      // row, persisted once; queries scan only their probed cells' codes
      val base = scratch(dir)
      val cb = pqFor(s, dir)
      val ivf = ivfIndexFor(s, dir)
      built.getOrElseUpdate(s"$base/ivfpq", {
        Similarity.ivfPqEncode(t(s, dir, "embeddings"), "vec_id", "embedding", ivf, cb)
          .write.mode("overwrite").parquet(s"$base/ivfpq_codes")
        ()
      })
      val codes = s.read.parquet(s"$base/ivfpq_codes")
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      // in-query recall floor, same discipline as the lsh/ivf/pq gates:
      // nprobe=2 of nlist=16 cells + ADC codes, vs exact brute force
      val approx = Similarity.ivfPqTopK(
        codes, q, "vec_id", "query_id", "qvec", ivf, cb, k = 10, nprobe = 2)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "query_id", "qvec", 10)
      val rec = Similarity.recallVs(approx, exact, "query_id", "vec_id")
      val rows = rec.collect().map(r => r.getLong(0) -> r.getDouble(1))
      val (minFloor, meanFloor) = recallFloors(dir, "ivfpq")
      require(rows.length == 3 && rows.map(_._2).min >= minFloor &&
        rows.map(_._2).sum / rows.length >= meanFloor,
        s"ivfpq recall regressed (floors min=$minFloor mean=$meanFloor): ${rows.mkString(", ")}")
      rec.select(col("query_id"), round(col("recall"), 4).as("recall")).orderBy("query_id")
    }),

    "q_emb_neardup" -> ((s, dir) => {
      // LSH-bucketed near-dup candidates with a MEASURED differential
      // self-oracle (the ANN-gate pattern): plant one deterministic
      // jittered copy per embedding (1.01·v + 0.001 in FLOAT — cosine to
      // its original ≈ 0.9999, far above any natural pair; float ops are
      // IEEE, so DuckDB replays them bit for bit), then assert pair
      // recall vs the brute-force exact twin in-query. Floors are the
      // per-scale-dir observed values − 0.1 (recallFloors "neardup").
      // the recall measurement needs a representative slice, not the full
      // corpus — the O(n²) exact twin is capped at 1000 source vectors so
      // the gate stays cheap at every sf; persisted so the brute-force
      // pass runs ONCE across the three actions below
      val corpus = plantedNearDupCorpus(
        t(s, dir, "embeddings").filter(col("vec_id") < 1000))
      val cand = Similarity.embeddingNearDupCandidates(
        corpus, "vec_id", "embedding", dim = 64, minCosine = 0.9, bits = 6)
        .select("id_a", "id_b").persist()
      val exact = Similarity.bruteForceNearDupPairs(
        corpus, "vec_id", "embedding", minCosine = 0.9)
        .select("id_a", "id_b").persist()
      try {
        val hits = cand.join(exact, Seq("id_a", "id_b"), "left_semi").count()
        val total = exact.count()
        val recall = if (total == 0) 1.0 else hits.toDouble / total
        val (minFloor, _) = recallFloors(dir, "neardup")
        require(recall >= minFloor,
          s"embedding near-dup pair recall regressed: $recall < floor $minFloor " +
            s"($hits of $total exact pairs found)")
        import s.implicits._
        Seq((cand.count(), total, math.round(recall * 10000) / 10000.0))
          .toDF("pairs", "exact_pairs", "recall")
      } finally { cand.unpersist(blocking = false); exact.unpersist(blocking = false); () }
    }),

    "q_emb_neardup_exact" -> ((s, dir) => {
      // the brute-force twin as its own EXACT gate: the same planted
      // jitter replays in DuckDB (double arithmetic both sides), so the
      // near-dup pair SET at the threshold hash-matches — the near-dup
      // family's semantics proven exactly, with the LSH variant carrying
      // the recall floor above
      val corpus = plantedNearDupCorpus(
        t(s, dir, "embeddings").filter(col("vec_id") < 1000))
      Similarity.bruteForceNearDupPairs(corpus, "vec_id", "embedding", minCosine = 0.9)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    }),

    "q_emb_dedup_cc" -> ((s, dir) => {
      // transitive-closure embedding dedup (LSH-seeded → rows-only gate)
      val e = t(s, dir, "embeddings")
      Similarity.embeddingDedupCC(e, "vec_id", "embedding", dim = 64, minCosine = 0.98, bits = 6)
        .groupBy().agg(count(lit(1)).as("survivors"))
    }),

    "q_emb_dedup_cc_exact" -> ((s, dir) => {
      // the transitive-closure dedup proven EXACTLY: two generations of
      // float-jittered copies per embedding (v → j(v) → j(j(v))) form
      // 3-node components whose every edge clears cosine 0.9 by a wide
      // margin; exact brute-force pairs feed the same GraphX closure the
      // LSH path uses, and DuckDB replays pairs + closure with a
      // recursive CTE — survivors hash-match (the originals, as the
      // min-id of each component)
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select("vec_id", "embedding")
      def jitter(d: org.apache.spark.sql.DataFrame, offset: Long) =
        d.select((col("vec_id") % 1000000 + offset).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
      val j1 = jitter(e, 1000000L)
      val corpus = e.unionByName(j1).unionByName(jitter(j1, 2000000L))
      val pairs = Similarity.bruteForceNearDupPairs(
        corpus, "vec_id", "embedding", minCosine = 0.9)
      Dedup.dedupCCFromPairs(corpus, "vec_id", pairs)
        .select("vec_id").orderBy("vec_id")
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): plant an exact copy of every 5th
      // embedding under a new id; identical vectors share a k-means cell by
      // construction, so every planted copy must fall to its original
      // regardless of where the learned centroids land. Rows-only gate —
      // the kept-id SET is the deterministic part; MLlib KMeans internals
      // have no DuckDB twin.
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
      val out = Similarity.semanticDedup(e.unionByName(planted), "vec_id", "embedding",
        dim = 64, minCosine = 0.999, nlist = 16)
      out.groupBy().agg(count(lit(1)).as("survivors"),
        sum(when(col("vec_id") >= 1000000, 1).otherwise(0)).as("planted_survivors"))
    }),

    "q_cluster_sample" -> ((s, dir) => {
      // cluster-balanced topic capping over the embeddings table (the
      // training-mix de-skew op): rows-only gate — MLlib k-means has no
      // DuckDB twin — with the cap invariant asserted in-query. Seed
      // determinism is pinned in SimilaritySpec (a second in-gate run
      // would double the k-means cost for no extra signal at this scale).
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cap = 200L
      val out = Similarity.clusterBalancedSample(e, "vec_id", "embedding",
        perClusterCap = cap, nlist = 16)
      val counts = out.groupBy("cluster").agg(count(lit(1)).as("n"))
      // ONE execution of the k-means + capping pipeline: collect the
      // nlist-sized count table and derive both the cap invariant and the
      // returned 1-row summary from it locally (r16 — the old
      // filter.count + agg pair ran clusterBalancedSample twice)
      val rows = counts.collect()
      val overCap = rows.count(_.getLong(1) > cap)
      require(overCap == 0, s"cluster sample regressed: $overCap clusters over cap")
      val summary = org.apache.spark.sql.Row(rows.length.toLong,
        if (rows.isEmpty) null else rows.map(_.getLong(1)).sum,
        if (rows.isEmpty) null else rows.map(_.getLong(1)).max)
      s.createDataFrame(java.util.List.of(summary),
        counts.agg(count(lit(1)).as("clusters"), sum("n").as("rows_kept"),
          max("n").as("max_cell")).schema)
    }),

    // -------------------------------------------------- pipeline: text
    "q_text_stats" -> ((s, dir) => {
      // r16 perf: token arrays staged once per row — the single-column
      // metric forms re-split per metric (no codegen CSE for HOFs)
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__toks"),
          TextAnalysis.tokens(lower(col("text"))).as("__ltoks"))
        .select(col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          length(col("text")).as("len_chars"),
          round(TextAnalysis.meanTokenLengthOf(col("__toks")), 6).as("mean_token_len"),
          round(TextAnalysis.stopwordRatioOf(col("__ltoks")), 6).as("stopword_ratio"))
        .orderBy("doc_id")
    }),

    "q_text_vocab" -> ((s, dir) => {
      // corpus vocabulary extraction: top-50 words with counts — partial
      // agg + TakeOrdered, deterministic tie-break on the word
      TextAnalysis.wordFrequencies(t(s, dir, "documents"), "text", k = 50)
        .withColumn("cnt", col("cnt").cast("long"))
    }),

    "q_text_quality" -> ((s, dir) => {
      // r16 perf: staged token array (see q_text_stats)
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreOf(col("text"), col("__toks")).as("quality"))
        .orderBy("doc_id")
    }),

    "q_c4_filter" -> ((s, dir) => {
      // C4 rule cleaning (Raffel et al. 2020): synthesize 6 deterministic
      // lines per doc (the corpus itself is single-line word salad) — 3
      // pass the line rules, 'short line.' / no-punct / javascript lines
      // drop, and doc_id % 11 / % 13 plant the page-level lorem-ipsum and
      // curly-brace kills. Identical construction in the DuckDB oracle.
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 60), lit("."),
            when(col("doc_id") % 11 === 0, lit(" lorem ipsum")).otherwise(lit(""))),
          substring(col("text"), 1, 20),
          lit("short line."),
          concat(substring(col("text"), 5, 60), lit(" javascript required.")),
          concat(substring(col("text"), 10, 60), lit("!"),
            when(col("doc_id") % 13 === 0, lit(" {")).otherwise(lit(""))),
          concat(substring(col("text"), 15, 60), lit("?"))).as("text"))
      TextAnalysis.c4Clean(d, "doc_id", "text")
        .select("doc_id", "clean_text")
        .orderBy("doc_id")
    }),

    "q_tfidf" -> ((s, dir) => {
      // per-document keyword extraction: top-3 TF-IDF terms (smoothed idf,
      // lexicographic tiebreak). Two partial aggs + a doc-local array sort
      // — no corpus-wide window.
      TextAnalysis.tfIdfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumn("score", round(col("score"), 6))
        .orderBy("doc_id", "term")
    }),

    "q_edit_distance" -> ((s, dir) => {
      // final verification stage of the dedup ladder: exact edit distance
      // on LSH-blocked candidate pairs (planted prefix mutations)
      val d = t(s, dir, "documents").select("doc_id", "text")
      val mutated = d.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(lit("xq "), col("text")))
      val u = d.unionByName(mutated)
      val pairs = mutated.select((col("doc_id") - 1000000).as("id_a"), col("doc_id").as("id_b"))
      Dedup.editDistancePairs(u, pairs, "doc_id", "text")
        .withColumn("edit_similarity", round(col("edit_similarity"), 6))
        .orderBy("id_a")
    }),

    "q_quality_model" -> ((s, dir) => {
      // model-based quality filtering, SCORING half (the 100 TB path of
      // the GPT-3/CCNet classifier stage): a frozen weight vector scores
      // every document through the replayable md5 hash kernel — EXACT
      // oracle, DuckDB replays tokenize/hash/dot/sigmoid per row (the
      // md5RowHash playbook; weights are dyadic rationals so the float
      // sum is order-independent-exact). Training has no DuckDB twin
      // (MLlib L-BFGS) and stays ScalaTest-gated: QualityModelSpec gates
      // fit accuracy/determinism AND pins scoreReplayable ≡ score on a
      // collision-free vocabulary.
      graft.ops.QualityModel.scoreReplayable(
          t(s, dir, "documents").select("doc_id", "text"),
          "text", qualityOracleWeights, intercept = 0.125)
        .select(col("doc_id"), col("quality_prob"),
          (col("quality_prob") >= 0.5).as("kept"))
        .orderBy("doc_id")
    }),

    "q_chunk_docs" -> ((s, dir) => {
      // sliding-window chunking (context-window prep): 40-token windows with
      // 8-token overlap, no redundant tail window
      Sampling.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 40, overlap = 8)
        .orderBy("doc_id", "chunk_index")
    }),

    "q_para_withindoc" -> ((s, dir) => {
      // intra-document paragraph dedup: doubling every doc's text plants a
      // within-doc repeat of every paragraph; repeats collapse to their
      // first occurrence, blank layout lines survive
      val doubled = t(s, dir, "documents")
        .select(col("doc_id"), concat_ws("\n", col("text"), col("text")).as("text"))
      Dedup.paragraphDedupWithinDoc(doubled, "doc_id", "text")
        .select("doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_dedup_spans" -> ((s, dir) => {
      // Lee et al. span removal: every 11th doc is planted verbatim under a
      // new id, so both copies lose every 5-gram-covered token; natural
      // cross-doc and within-doc repeats are removed exactly
      val d = t(s, dir, "documents").select("doc_id", "text")
      val u = d.unionByName(
        d.filter(col("doc_id") % 11 === 0).withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.removeDupNgramSpans(u, "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    "q_dup_ngrams" -> ((s, dir) => {
      // substring-level duplication audit (Lee et al. spans): every 7th doc
      // is planted verbatim under a new id, so both copies must report
      // dup_fraction 1.0; natural cross-doc 5-gram overlap is counted
      // exactly. No gram-keyed join — unique-gram owners via partial aggs.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val u = d.unionByName(
        d.filter(col("doc_id") % 7 === 0).withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.dupNgramStats(u, "doc_id", "text", n = 5)
        .withColumn("dup_fraction", round(col("dup_fraction"), 6))
        .orderBy("doc_id")
    }),

    "q_text_repetition" -> ((s, dir) => {
      // Gopher-style repetition filters (Rae et al. 2021 A1.1): duplicate
      // line / line-char / word-bigram fractions, pure codegen'd array
      // functions — no shuffle, no UDF. Testdata docs are single-line, so
      // 3-word lines are derived deterministically (same regexp on the
      // oracle side) to give the line metrics real duplicates to find.
      val d = t(s, dir, "documents")
      val lined = regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n")
      // r16 perf: the staged one-pass form — the per-metric columns
      // re-derived the line/bigram arrays (no codegen CSE for
      // higher-order functions), paying the regexp + split up to 3x/row
      TextAnalysis.repetitionMetrics(d, "doc_id", lined, col("text"))
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    "q_text_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.langIdUdf(col("text")).as("lang_guess"))
        .groupBy("lang_guess").agg(count(lit(1)).as("n"))
        .orderBy("lang_guess")
    }),

    "q_text_unigram_lp" -> ((s, dir) => {
      // corpus-derived unigram LM scoring with an exact DuckDB twin
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("unigram_lp"), 6).as("unigram_lp"))
        .orderBy("doc_id")
    }),

    "q_bigram_lp" -> ((s, dir) => {
      // interpolated bigram LM scoring (CCNet-family fluency filter) with an
      // exact DuckDB twin
      TextAnalysis.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("bigram_lp"), 6).as("bigram_lp"))
        .orderBy("doc_id")
    }),

    "q_text_redact" -> ((s, dir) => {
      // PII scrub over planted emails/IPs/phones; md5 of the cleaned text
      // pins the whole transformation byte-for-byte against the oracle
      val d = t(s, dir, "documents").filter(col("doc_id") < 200)
      val planted = concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com from 192.168.1."),
        pmod(col("doc_id"), lit(200)),
        lit(" call 555-123-"), lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"))
      d.select(col("doc_id"),
        md5(TextAnalysis.cleanText(planted)).as("redacted_sig"))
        .orderBy("doc_id")
    }),

    "q_text_fingerprint" -> ((s, dir) => {
      // whitespace/case-robust fingerprint: dup-vs-original collide
      // single-scan explode fixture (r16): the mutated copy rides a CASE
      // instead of a second parquet read
      t(s, dir, "documents")
        .select(col("text"), explode(array(lit(false), lit(true))).as("__m"))
        .select(when(col("__m"),
            regexp_replace(upper(col("text")), lit(" "), lit("  ")))
          .otherwise(col("text")).as("text"))
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy().agg(countDistinct(col("fp")).as("distinct_fps"))
    }),

    "q_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
      // hashed-ngram bag-of-words likelihood ratio of every document
      // against a target slice (en docs as the high-quality reference).
      // EXACT — the md5 gram kernel, add-1-smoothed bucket counts and the
      // per-doc log-ratio sum all replay in DuckDB (rounded to 6 digits,
      // absorbing ln()'s cross-engine ulp).
      val docs = t(s, dir, "documents")
      val target = docs.filter(col("lang") === "en").select(col("text").as("ttext"))
      graft.ops.Dsir.importanceWeights(docs.select("doc_id", "text"),
          "doc_id", "text", target, "ttext", buckets = 4096)
        .withColumn("log_weight", round(col("log_weight"), 6))
        .orderBy("doc_id")
    }),

    "q_dsir_sample" -> ((s, dir) => {
      // Gumbel-top-k importance resampling toward the target slice, with
      // deterministic hashUnit noise — selection AND keys replay exactly
      // in DuckDB (the Gumbel-max trick over the same weights)
      val docs = t(s, dir, "documents")
      val target = docs.filter(col("lang") === "en").select(col("text").as("ttext"))
      graft.ops.Dsir.resampleTopK(docs.select("doc_id", "text", "lang"),
          "doc_id", "text", target, "ttext", k = 200, buckets = 4096)
        .select(col("doc_id"), col("lang"),
          round(col("sample_key"), 6).as("sample_key"))
        .orderBy("doc_id")
    }),

    // ------------------------------------- pipeline: sampling / mixture / packing
    "q_sample_det" -> ((s, dir) => {
      // deterministic Bernoulli sample — same (seed,key) ⇒ same rows on any engine
      Sampling.deterministicSample(t(s, dir, "documents"), col("doc_id"), 0.2, seed = "s1")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_sample_strata" -> ((s, dir) => {
      // per-stratum fractions; membership (not just counts) is oracle-pinned
      val li = t(s, dir, "lineitem")
      Sampling.stratifiedSample(li,
        concat_ws("-", col("l_orderkey"), col("l_linenumber")), col("l_returnflag"),
        Map("A" -> 0.1, "N" -> 0.05, "R" -> 0.2), seed = "s2")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_sample_split" -> ((s, dir) => {
      // reproducible train/val/test assignment; per-(split,lang) counts
      Sampling.hashSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s5")
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    }),

    "q_sample_exact" -> ((s, dir) => {
      // exactly 10 documents per language, engine-reproducibly
      Sampling.deterministicSampleN(t(s, dir, "documents"), col("doc_id"), 10,
        groups = Seq("lang"), seed = "s4")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_sample_shuffle" -> ((s, dir) => {
      // deterministic epoch permutation: every engine replays the md5-keyed
      // order bit-for-bit. The op itself is one range-partitioned sort; the
      // global row_number here only exists so the gate can verify the
      // PERMUTATION (oracle recomputes it with its own window).
      import org.apache.spark.sql.expressions.Window
      val shuffled = Sampling.deterministicShuffle(
        t(s, dir, "documents"), col("doc_id"), seed = "epoch7")
      val h = md5(concat_ws(":", lit("epoch7"), col("doc_id").cast("string")))
      shuffled.select(col("doc_id"),
          row_number().over(Window.orderBy(h)).cast("long").as("pos"))
        .orderBy("doc_id")
    }),

    "q_pack_greedy" -> ((s, dir) => {
      // engine-reproducible greedy FFD packing: md5 hash groups + per-group
      // first-fit-decreasing make every (doc, bin) assignment a pure
      // function of doc_id — the oracle replays the same FFD with an
      // ordered recursive CTE, so the gate is EXACT per row (the
      // partition-local packGreedy variant stays covered by SamplingSpec's
      // invariants; this is the deterministic scale path)
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      Sampling.packGreedyDeterministic(d, "doc_id", "n_chars", budget = 2000L,
          numGroups = 8, seed = "pack0")
        .select("doc_id", "n_chars", "pack_id").orderBy("doc_id")
    }),

    "q_budget_select" -> ((s, dir) => {
      // corpus curation under a fixed training budget: longest docs first
      // (unique tiebreak on doc_id) until the cumulative char budget is
      // spent. The kept set is the exact global prefix — computed with the
      // two-level cumsum, never a single-task global window.
      Sampling.takeByBudget(t(s, dir, "documents"),
          Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget = 75000L)
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    "q_budget_per_lang" -> ((s, dir) => {
      // per-language token budgets: each language spends 10k chars on its
      // own longest-first prefix; hot groups spread over many partitions
      // (no one-task-per-group window)
      Sampling.takeByBudgetPerGroup(t(s, dir, "documents"), "lang",
          Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget = 10000L)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    "q_budget_map" -> ((s, dir) => {
      // per-language DISTINCT budgets (the real mixture-curation shape):
      // en gets 5k chars, de 15k, everyone else the 8k default — longest
      // docs first within each language. Budget lookup is a broadcast map
      // literal evaluated map-side; no extra join.
      Sampling.takeByBudgetPerGroupMap(t(s, dir, "documents"), "lang",
          Seq(col("n_chars").desc, col("doc_id")), "n_chars",
          budgets = Map("en" -> 5000L, "de" -> 15000L), defaultBudget = 8000L)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    "q_top_n_per_group" -> ((s, dir) => {
      // per-source contribution cap: no source keeps more than 25 docs
      // (longest first, doc_id tiebreak). Ranking spreads hot sources over
      // many range partitions — never one window task per source.
      Sampling.takeTopNPerGroup(t(s, dir, "documents"), "source",
          Seq(col("n_chars").desc, col("doc_id")), n = 25L)
        .select("doc_id", "source", "n_chars").orderBy("doc_id")
    }),

    "q_shard_assign" -> ((s, dir) => {
      // reproducible training shards: md5-permuted order cut every 20k
      // chars; any engine replays the same (doc → shard) map bit-for-bit
      Sampling.shardCorpus(t(s, dir, "documents"), col("doc_id"), "n_chars",
          shardTokens = 20000L, seed = "epoch0")
        .select("doc_id", "shard_id").orderBy("doc_id")
    }),

    "q_mixture" -> ((s, dir) => {
      // resample the corpus to a uniform language mixture, as large as the
      // scarcest language allows
      Sampling.mixtureResample(t(s, dir, "documents"), col("doc_id"), col("lang"),
        Map("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2), seed = "s3")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_temperature" -> ((s, dir) => {
      // temperature-scaled language mixing (p_g ∝ count_g^0.5): the
      // standard multilingual up-sample-the-tail rule, deterministic
      // membership draw — DuckDB recomputes the same weights and picks the
      // identical row set
      Sampling.temperatureResample(t(s, dir, "documents"), col("doc_id"), col("lang"),
        alpha = 0.5, seed = "s7")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_pack_chunk" -> ((s, dir) => {
      // sequence packing: cut a new pack every 500 tokens in doc_id order
      // (two-level cumsum — no global window over the corpus)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Sampling.packChunks(d, "doc_id", "n_tokens", budget = 500)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
        .orderBy("pack_id")
    }),

    "q_decontaminate_semantic" -> ((s, dir) => {
      // paraphrase-level benchmark leakage: the "benchmark" is a
      // float-jittered copy of every 17th embedding (cosine ≈ 0.9999 to
      // its source, natural pairs ≤ ~0.51), so exactly those sources must
      // flag — the report's id/count side is EXACT in DuckDB (cosine
      // magnitudes are covered by q_emb_neardup_exact)
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val bench = e.filter(col("vec_id") % 17 === 0)
        .select(transform(col("embedding"),
          x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
      Decontamination.semanticContaminationReport(
          e, "vec_id", "embedding", bench, "embedding", minCosine = 0.9)
        .select("vec_id", "n_matches").orderBy("vec_id")
    }),

    "q_decontaminate_paragraph" -> ((s, dir) => {
      // span-level decontamination (Dolma rule): the corpus docs are split
      // into 3-word lines (the paragraph convention the q_para_* family
      // uses); a line sharing its word 3-gram with ANY benchmark doc
      // (doc_id % 19 == 0) is removed, the rest of the document survives
      // verbatim — the oracle rebuilds the exact surviving text
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n").as("text"))
      val bench = d.filter(col("doc_id") % 19 === 0)
      val corpus = d.filter(col("doc_id") % 19 =!= 0)
      Decontamination.decontaminateParagraphs(
          corpus, "doc_id", "text", bench, "text", n = 3)
        .orderBy("doc_id")
    }),

    "q_decontaminate_paragraph_report" -> ((s, dir) => {
      // the observability half of the span rule: every contaminated
      // paragraph with its distinct shared-gram count, exact in DuckDB
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n").as("text"))
      val bench = d.filter(col("doc_id") % 19 === 0)
      val corpus = d.filter(col("doc_id") % 19 =!= 0)
      Decontamination.paragraphContaminationReport(
          corpus, "doc_id", "text", bench, "text", n = 3)
        .withColumn("paragraph_pos", col("paragraph_pos").cast("long"))
        .orderBy("doc_id", "paragraph_pos")
    }),

    "q_decontaminate" -> ((s, dir) => {
      // benchmark-overlap decontamination: docs sharing ≥3 distinct word
      // 5-grams with the held-out set (doc_id % 19 == 0)
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 19 === 0)
      Decontamination.contaminationReport(
        d.filter(col("doc_id") % 19 =!= 0), "doc_id", "text",
        bench, "text", n = 5, minOverlap = 3)
        .orderBy("doc_id")
    }),

    // -------------------------------------------------- pipeline: multimodal
    "q_multimodal" -> ((s, dir) => {
      // binary blobs derived deterministically from documents text: the
      // opaque-format path of decodeFeatures is a byte-value histogram,
      // which DuckDB replays exactly from hex(encode(text)) — the whole
      // 8-bin feature vector is an EXACT oracle
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("blob"))
      val withMeta = Multimodal.attachMeta(d, "blob", "image")
      val feats = Multimodal.extractFeatures(withMeta, "id", "blob")
      feats.select(col("id") +:
          (0 until 8).map(i =>
            round(element_at(col("features"), i + 1), 6).as(s"f$i")): _*)
        .orderBy("id")
    }),

    "q_multimodal_decode" -> ((s, dir) => {
      // REAL codec round-trip: text bytes → grayscale PNG → ImageIO decode;
      // lossless, so decoded mean luma == byte mean (exact oracle)
      val enc = udf((text: String) => Multimodal.textToGrayPng(text, 16, 16))
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id").as("id"), enc(col("text")).as("blob"))
      Multimodal.extractImageInfo(d, "id", "blob")
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("mean_luma"), 6).as("mean_luma"))
        .orderBy("doc_id")
    }),

    "q_multimodal_frames" -> ((s, dir) => {
      // the frame-sampling PLAN layer is pure column math over the typed
      // metadata (duration derived deterministically from the blob), so it
      // gets an exact oracle even though the decode kernel is a stub
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("blob"))
      val withMeta = Multimodal.attachMeta(d, "blob", "video")
      Multimodal.frameSamplePlan(withMeta, everyMs = 1000, maxFrames = 16)
        .select(col("id"), size(col("frame_ts_ms")).as("n_frames"),
          element_at(col("frame_ts_ms"), -1).as("last_ts_ms"))
        .orderBy("id")
    }),

    "q_image_dedup" -> ((s, dir) => {
      // perceptual near-dup image dedup over REAL decodes: deterministic
      // synthetic "photos" (smooth gradients keyed by a class seed)
      // planted as exact + pixel-perturbed copies across the documents
      // ids. Class seeds are PRE-SCREENED on the driver so every
      // cross-class dHash distance is > 10 while the within-class
      // perturbation stays <= 3 — which makes the survivor set PROVABLY
      // one (least id) per class: within-class pairs verify (<= 3, so
      // banding must find them), cross-class pairs cannot (>= 10-6 > 3).
      // rows-only gate (DuckDB cannot decode PNG); the invariant above is
      // required in-query.
      def png(seed: Int, perturb: Boolean): Array[Byte] = {
        val (w, h) = (36, 32)
        val px = Array.tabulate(w * h) { i =>
          val (x, y) = (i % w, i / w)
          val v = (128 + 90 * math.sin(x * 0.4 + seed * 1.7) * math.cos(y * 0.3 + seed)).toInt +
            (if (perturb && (i == 40 || i == 500)) 40 else 0)
          v.max(0).min(255).toByte
        }
        Multimodal.encodeGrayPng(px, w, h)
      }
      // screening is deterministic — memoise across bench reps
      val classes: Array[Int] = screenedClasses.getOrElseUpdate("image", {
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var seed = 0
        while (picked.size < 32 && seed < 2000) {
          (Multimodal.imageDHash(png(seed, perturb = false)),
            Multimodal.imageDHash(png(seed, perturb = true))) match {
            case (Some(hb), Some(hp))
                if java.lang.Long.bitCount(hb ^ hp) <= 3 &&
                  picked.forall { case (_, h0) => java.lang.Long.bitCount(h0 ^ hb) > 10 } =>
              picked += ((seed, hb))
            case _ => ()
          }
          seed += 1
        }
        picked.map(_._1).toArray
      })
      require(classes.length == 32, s"seed screening found only ${classes.length} classes")
      val clsUdf = udf((id: Long) => classes((id % classes.length).toInt))
      val imgUdf = udf((cls: Int, perturb: Boolean) => png(cls, perturb))
      val docs = t(s, dir, "documents").select(col("doc_id")).orderBy("doc_id").limit(2000)
        .withColumn("cls", clsUdf(col("doc_id")))
        .withColumn("img", imgUdf(col("cls"), col("doc_id") % 3 === 0))
      val kept = Multimodal.dedupImagesNearDup(docs, "doc_id", "img", maxHamming = 3)
      // r17: collect BOTH output columns so the returned frame is the
      // pipeline's own rows (r16 rebuilt cls from the fixture's id->class
      // formula — identical values, but nothing pinned cls THROUGH the
      // dedup; one fixture edit away from silent divergence)
      val keptRows = kept.select(col("doc_id"), col("cls")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      val keptIds = keptRows.map(_._1)
      val expIds = docs.groupBy("cls").agg(min("doc_id").as("m"))
        .select("m").collect().map(_.getLong(0)).sorted
      require(keptIds.sameElements(expIds),
        s"survivors must be exactly the least id per planted class " +
          s"(got ${keptIds.length}, expected ${expIds.length})")
      // the invariant collect above already ran the dedup — the returned
      // frame IS those rows (no second pipeline execution, r16)
      s.createDataFrame(
        java.util.Arrays.asList(keptRows.map { case (id, cls) =>
          org.apache.spark.sql.Row(id, cls) }: _*),
        kept.select(col("doc_id"), col("cls")).schema)
    }),

    "q_audio_dedup" -> ((s, dir) => {
      // near-dup AUDIO dedup over real WAV decodes — same provable-survivor
      // construction as q_image_dedup: screened envelope classes (> 10 bits
      // apart; noisy copy <= 3), members are the base recording, a
      // re-leveled copy (energy-difference fingerprints are gain-invariant:
      // IDENTICAL hash) or a noisy copy. Survivors must be exactly the
      // least id per class. rows-only (no DuckDB audio codec).
      def wav(seed: Int, gain: Double, noise: Double): Array[Byte] = {
        val rate = 8000; val perWindow = 64; val n = 65 * perWindow
        val rnd = new scala.util.Random(12345)
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
      // screening is deterministic — memoise across bench reps
      val classes: Array[Int] = screenedClasses.getOrElseUpdate("audio", {
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var seed = 0
        while (picked.size < 16 && seed < 500) {
          (Multimodal.audioFingerprint(wav(seed, 1.0, 0.0)),
            Multimodal.audioFingerprint(wav(seed, 1.0, 0.02))) match {
            case (Some(hb), Some(hn))
                if java.lang.Long.bitCount(hb ^ hn) <= 3 &&
                  picked.forall { case (_, h0) => java.lang.Long.bitCount(h0 ^ hb) > 10 } =>
              picked += ((seed, hb))
            case _ => ()
          }
          seed += 1
        }
        picked.map(_._1).toArray
      })
      require(classes.length == 16, s"seed screening found only ${classes.length} classes")
      val clsUdf = udf((id: Long) => classes((id % classes.length).toInt))
      val wavUdf = udf((cls: Int, kind: Int) => kind match {
        case 0 => wav(cls, 1.0, 0.0)   // base
        case 1 => wav(cls, 0.5, 0.0)   // re-leveled: identical fingerprint
        case _ => wav(cls, 1.0, 0.02)  // noisy: <= 3 bits (screened)
      })
      val docs = t(s, dir, "documents").select(col("doc_id")).orderBy("doc_id").limit(800)
        .withColumn("cls", clsUdf(col("doc_id")))
        .withColumn("wav", wavUdf(col("cls"), (col("doc_id") % 3).cast("int")))
      val kept = Multimodal.dedupAudioNearDup(docs, "doc_id", "wav", maxHamming = 3)
      // r17: collect BOTH output columns — same cls-pinning fix as
      // q_image_dedup (the returned frame is the pipeline's own rows, not
      // a formula-recomputed cls)
      val keptRows = kept.select(col("doc_id"), col("cls")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      val keptIds = keptRows.map(_._1)
      val expIds = docs.groupBy("cls").agg(min("doc_id").as("m"))
        .select("m").collect().map(_.getLong(0)).sorted
      require(keptIds.sameElements(expIds),
        s"survivors must be exactly the least id per planted class " +
          s"(got ${keptIds.length}, expected ${expIds.length})")
      // the invariant collect above already ran the dedup — the returned
      // frame IS those rows (no second pipeline execution, r16)
      s.createDataFrame(
        java.util.Arrays.asList(keptRows.map { case (id, cls) =>
          org.apache.spark.sql.Row(id, cls) }: _*),
        kept.select(col("doc_id"), col("cls")).schema)
    }),

    // -------------------------------------------------- more relational ops
    "q_csv_roundtrip" -> ((s, dir) => {
      // CSV sink + scan (≙ serialization/_csv.py): `;`-separated roundtrip
      val base = scratch(dir)
      val out = s"$base/region_csv"
      t(s, dir, "region").write.mode("overwrite").option("sep", ";").option("header", "true").csv(out)
      s.read.option("sep", ";").option("header", "true")
        .schema("r_regionkey INT, r_name STRING").csv(out)
        .withColumn("r_regionkey", col("r_regionkey").cast("long"))
        .orderBy("r_regionkey")
    }),

    "q_jsonl_roundtrip" -> ((s, dir) => {
      // JSON-lines sink + scan — the interchange format every training-data
      // pipeline ingests; schema-pinned read (never schema inference at scale)
      val base = scratch(dir)
      val out = s"$base/documents_jsonl"
      t(s, dir, "documents").write.mode("overwrite").json(out)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(out)
        .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("lang")
    }),

    "q_orc_roundtrip" -> ((s, dir) => {
      // ORC sink + scan (Spark-bundled columnar alternative), pushdown intact
      val base = scratch(dir)
      val out = s"$base/nation_orc"
      t(s, dir, "nation").write.mode("overwrite").orc(out)
      s.read.orc(out).filter(col("n_regionkey") <= 2)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    "q_date_pred" -> ((s, dir) => {
      // string literal against a timestamp column — predicate value
      // normalization (≙ core/index.py normalize_value date parsing)
      val p = Predicates.of(Seq(("l_shipdate", ">=", "2000-06-01"), ("l_shipdate", "<", "2000-08-01")))
      t(s, dir, "lineitem").filter(p.toColumn)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "q_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .sort(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderpriority", "rnk")
    }),

    "q_quantiles" -> ((s, dir) => {
      // exact linear-interpolated percentiles per group
      // + 1e-6 before rounding: interpolated percentiles of 2-decimal money
      // values land EXACTLY on .xx5 rounding boundaries, where Spark's
      // (1-d)·a + d·b and the oracle's a + d·(b-a) differ by 1 ulp and flip
      // the rounded digit; the nudge moves the boundary 1e-6 off the value
      // grid (multiples of 5e-4) so both engines round identically
      // r16 perf: both l_extendedprice percentiles share ONE aggregation
      // buffer via the array form — percentile builds a value->count
      // OpenHashMap per buffer, and the scalar form built that map twice
      // for the same column (array-element extraction is the same
      // interpolation on the same sorted counts, so values are identical)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("__ep"),
          expr("percentile(l_quantity, 0.25)").as("__q"))
        .select(col("l_returnflag"),
          round(col("__ep").getItem(0) + 1e-6, 2).as("p50"),
          round(col("__ep").getItem(1) + 1e-6, 2).as("p95"),
          round(col("__q") + 1e-6, 2).as("q25"))
        .orderBy("l_returnflag")
    }),

    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"))
        .orderBy("l_returnflag")
    }),

    "q_semi_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val bigParts = t(s, dir, "part").filter(col("p_size") >= 45)
      li.join(bigParts.hint("broadcast"), li("l_partkey") === bigParts("p_partkey"), "left_semi")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q_intersect" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nk"))
      val cus = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nk"))
      sup.intersect(cus).orderBy("nk")
    }),

    "q_except" -> ((s, dir) => {
      val nat = t(s, dir, "nation").select(col("n_nationkey").cast("long").as("nk"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nk"))
      nat.except(sup).orderBy("nk")
    }),

    // -------------------------------------------------- streaming
    "q_stream_feed" -> ((s, dir) => {
      // commit-aware change feed: tail a graft dataset's commits as a
      // structured stream. v1 = orders with status O; two live commits add
      // F and P. The feed must deliver exactly the union, each commit once,
      // with a compaction between commits re-emitting nothing.
      val base = scratch(dir)
      val name = "feed_" + Integer.toHexString(dir.hashCode)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_feed")) {
        Ktk.store(s, base, "orders_feed", orders.filter(col("o_orderstatus") === "O"))
        val q = s.readStream.format("graft").option("uuid", "orders_feed").load(base)
          .writeStream.format("memory").queryName(name).start()
        try {
          q.processAllAvailable()
          Ktk.update(s, base, "orders_feed",
            Some(orders.filter(col("o_orderstatus") === "F")))
          Ktk.compact(s, base, "orders_feed")
          Ktk.update(s, base, "orders_feed",
            Some(orders.filter(col("o_orderstatus") === "P")))
          q.processAllAvailable()
          s.table(name).orderBy("o_orderkey").write.mode("overwrite")
            .parquet(s"$base/feed_result")
        } finally q.stop()
      }
      s.read.parquet(s"$base/feed_result").orderBy("o_orderkey")
    }),

    "q_stream_cdc" -> ((s, dir) => {
      // streaming FULL CDC (the delete-emitting complement of
      // q_stream_feed): readStream.format("graft-cdc") tails the commit
      // log and delivers row-level inserts AND deletes with _change_type /
      // _commit_version; the sink's aggregate must hash-match a DuckDB
      // reconstruction of the change stream.
      val base = scratch(dir)
      val name = "cdcs_" + Integer.toHexString(dir.hashCode)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_cdcs")) {
        Ktk.store(s, base, "orders_cdcs", orders, partitionOn = Seq("o_orderstatus"))
        val q = s.readStream.format("graft-cdc").option("uuid", "orders_cdcs")
          .option("startingVersion", "1") // stream only the live changes
          .load(base)
          .writeStream.format("memory").queryName(name).start()
        try {
          Ktk.deleteRows(s, base, "orders_cdcs",
            predicates = Predicates.of(Seq(("o_totalprice", ">", 200000.0))))
          val src = orders.filter(col("o_orderkey") % 11 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + lit(250.0))
          Ktk.merge(s, base, "orders_cdcs", src, keys = Seq("o_orderkey"))
          q.processAllAvailable()
          s.table(name).write.mode("overwrite").parquet(s"$base/cdcs_result")
        } finally q.stop()
      }
      s.read.parquet(s"$base/cdcs_result")
        .groupBy(col("_change_type").as("change_type"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("change_type", "o_orderstatus")
    }),

    "q_stream_ingest" -> ((s, dir) => {
      // streaming ingest pipeline: quality gate → exact dedup-on-ingest
      // (bounded state keyed by an 8-byte content hash, watermark-evicted)
      // → append sink, then batch analytics over the sink table. The
      // aggregate is on DISTINCT content, so the result is independent of
      // which physical duplicate survives (processing order varies across
      // executors; content identity does not).
      import org.apache.spark.sql.streaming.Trigger
      val name = "ingest_" + Integer.toHexString(dir.hashCode)
      val stageDir = java.nio.file.Paths.get(scratch(dir), "docs_stream")
      java.nio.file.Files.createDirectories(stageDir)
      val target = stageDir.resolve("documents.parquet")
      stageFileOnce(java.nio.file.Paths.get(s"$dir/documents.parquet"), target)
      val schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
      val stream = s.readStream.schema(schema).parquet(stageDir.toString)
        .filter(length(col("text")) >= 100)
        .withColumn("ts", timestamp_seconds(lit(1000000) + col("doc_id")))
      val deduped = graft.streaming.StreamDedup.dedupStream(stream, "text", "ts", "1 hour")
      val q = deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).agg(count(lit(1)).as("n_docs"))
    }),

    "q_stream_upsert" -> ((s, dir) => {
      // streaming WRITE through the connector (`writeStream.format("graft")`,
      // Update mode + keys → keyed merge-on-read upsert): wave A streams the
      // full orders keyset into an empty dataset, wave B re-streams every
      // 7th key with a bumped price; the upsert must leave exactly
      // last-writer-wins state. A third run over the same checkpoint (no new
      // files) must commit NOTHING — exactly-once is asserted in-query.
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val base = scratch(dir)
      val uuid = "orders_upstream"
      // gate on a completion marker, not dataset existence: the setup is
      // multi-step (3 streaming runs + staged files), and a crash mid-way
      // must rebuild from scratch, not serve the half-built table forever
      val done = java.nio.file.Paths.get(base, s"$uuid._fixture_done")
      if (!java.nio.file.Files.exists(done)) {
        if (graft.ktk.DatasetMetadata.exists(s, base, uuid))
          graft.ktk.DatasetMetadata.delete(s, base, uuid)
        val stageDir = java.nio.file.Paths.get(base, "orders_upstream_src")
        org.apache.commons.io.FileUtils.deleteQuietly(stageDir.toFile)
        org.apache.commons.io.FileUtils.deleteQuietly(
          java.nio.file.Paths.get(base, "orders_upstream_ckpt").toFile)
        java.nio.file.Files.createDirectories(stageDir)
        val orders = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType)))
        Ktk.createEmpty(s, base, uuid, schema)
        val ckpt = s"$base/orders_upstream_ckpt"
        def run(): Unit = {
          val q = s.readStream.schema(schema).parquet(stageDir.toString)
            .writeStream.format("graft")
            .option("uuid", uuid).option("keys", "o_orderkey")
            .option("checkpointLocation", ckpt)
            .outputMode("update").trigger(Trigger.AvailableNow()).start(base)
          q.awaitTermination()
        }
        stageDfOnce(orders, stageDir.resolve("waveA.parquet"))
        run()
        stageDfOnce(orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
          stageDir.resolve("waveB.parquet"))
        run()
        val before = graft.ktk.DatasetMetadata.load(s, base, uuid).version
        run() // replay window: same checkpoint, no new files
        val after = graft.ktk.DatasetMetadata.load(s, base, uuid).version
        require(after == before, s"empty restart must not commit ($before -> $after)")
        java.nio.file.Files.createFile(done)
      }
      Ktk.readTable(s, base, uuid)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    }),

    "q_stream_dedup_history" -> ((s, dir) => {
      // continuous-ingest dedup LOOP as a real streaming query
      // (foreachBatch → KtkSink.commitBatchDeduped): three waves of
      // documents with planted cross-wave verbatim copies; each wave
      // dedupes against the dataset's own persisted hash column and then
      // extends it in the same exactly-once commit. EXACT oracle: the
      // survivor set is first-occurrence-per-normalized-content over
      // (wave, doc_id) — DuckDB replays it with a window over the SAME
      // normalization (the xxhash64 key never leaves the engine; ids are
      // planted so the wave is recoverable from the id).
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val base = scratch(dir)
      val uuid = "stream_dedup_corpus"
      val done = java.nio.file.Paths.get(base, s"$uuid._fixture_done")
      if (!java.nio.file.Files.exists(done)) {
        if (graft.ktk.DatasetMetadata.exists(s, base, uuid))
          graft.ktk.DatasetMetadata.delete(s, base, uuid)
        val stageDir = java.nio.file.Paths.get(base, s"${uuid}_src")
        org.apache.commons.io.FileUtils.deleteQuietly(stageDir.toFile)
        org.apache.commons.io.FileUtils.deleteQuietly(
          java.nio.file.Paths.get(base, s"${uuid}_ckpt").toFile)
        java.nio.file.Files.createDirectories(stageDir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType)))
        Ktk.createEmpty(s, base, uuid, StructType(
          schema.fields :+ StructField("content_hash", LongType)))
        val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
        // the oracle recovers the wave rank from the id magnitude (the
        // +1M/+2M/+3M plants) — a natural doc_id at or past 1M would
        // collide with the plants and misrank waves, so fail the fixture
        // loudly instead (raise the plant offsets AND the oracle's
        // thresholds together if a larger scale factor ever trips this)
        val maxNatural = docs.agg(max(col("doc_id"))).head.getLong(0)
        require(maxNatural < 1000000L,
          s"q_stream_dedup_history plant convention violated: max natural " +
            s"doc_id $maxNatural >= 1000000 would collide with the wave " +
            "plants; raise the plant offsets and the oracle thresholds")
        def run(): Unit = {
          val q = graft.streaming.KtkSink.dedupIngestStream(
            s.readStream.schema(schema).parquet(stageDir.toString),
            base, uuid, s"$base/${uuid}_ckpt", "doc_id", "text",
            trigger = Trigger.AvailableNow())
          q.awaitTermination()
        }
        // one staged file per wave + one run per wave = one micro-batch
        // per wave, deterministically ordered
        stageDfOnce(docs.filter(col("doc_id") % 3 === 0),
          stageDir.resolve("wave0.parquet"))
        run()
        stageDfOnce(
          docs.filter(col("doc_id") % 3 === 1).unionByName(
            docs.filter(col("doc_id") % 15 === 0)
              .withColumn("doc_id", col("doc_id") + 1000000L)),
          stageDir.resolve("wave1.parquet"))
        run()
        stageDfOnce(
          docs.filter(col("doc_id") % 3 === 2)
            .unionByName(docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % 7 === 0)
              .withColumn("doc_id", col("doc_id") + 2000000L))
            .unionByName(docs.filter(col("doc_id") % 15 === 0)
              .withColumn("doc_id", col("doc_id") + 3000000L)),
          stageDir.resolve("wave2.parquet"))
        run()
        val before = graft.ktk.DatasetMetadata.load(s, base, uuid).version
        run() // replay window: same checkpoint, no new files -> no commit
        require(graft.ktk.DatasetMetadata.load(s, base, uuid).version == before,
          "empty restart must not commit")
        java.nio.file.Files.createFile(done)
      }
      Ktk.readTable(s, base, uuid).select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_stream_neardedup_history" -> ((s, dir) => {
      // NEAR-dup dedup-on-ingest loop as a real streaming query
      // (foreachBatch → KtkSink.commitBatchNearDeduped): three waves with
      // planted near-copies (5-char prefixes). The fixture's pairwise
      // exact Jaccard is either <=0.28 (distinct originals) or >=0.9
      // (prefix plants) — the q_dedup_minhash_exact discipline — so the
      // deterministic b-bit estimate at τ=0.6 makes the same decisions as
      // exact J. Each wave near-dedupes against the dataset's own
      // persisted signature columns and EXTENDS them in the same
      // exactly-once commit. EXACT oracle: DuckDB recomputes exact
      // shingle Jaccard over the SAME normalized text and keeps each doc
      // iff no earlier (wave, id) doc is a >=0.6 neighbor.
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val base = scratch(dir)
      val uuid = "stream_neardedup_corpus"
      val done = java.nio.file.Paths.get(base, s"$uuid._fixture_done")
      if (!java.nio.file.Files.exists(done)) {
        if (graft.ktk.DatasetMetadata.exists(s, base, uuid))
          graft.ktk.DatasetMetadata.delete(s, base, uuid)
        val stageDir = java.nio.file.Paths.get(base, s"${uuid}_src")
        org.apache.commons.io.FileUtils.deleteQuietly(stageDir.toFile)
        org.apache.commons.io.FileUtils.deleteQuietly(
          java.nio.file.Paths.get(base, s"${uuid}_ckpt").toFile)
        java.nio.file.Files.createDirectories(stageDir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType)))
        Ktk.createEmpty(s, base, uuid, StructType(schema.fields ++ Seq(
          StructField("sig", BinaryType),
          StructField("bands", ArrayType(LongType)))))
        val d = t(s, dir, "documents").select("doc_id", "text", "lang")
          .filter(col("doc_id") < 40 && length(col("text")) >= 60)
        def near(prefix: String, src: DataFrame, offset: Long): DataFrame =
          src.withColumn("doc_id", col("doc_id") + offset)
            .withColumn("text", concat(lit(prefix), col("text")))
        def run(): Unit = {
          val q = graft.streaming.KtkSink.nearDedupIngestStream(
            s.readStream.schema(schema).parquet(stageDir.toString),
            base, uuid, s"$base/${uuid}_ckpt", "doc_id", "text",
            trigger = Trigger.AvailableNow(), threshold = 0.6)
          q.awaitTermination()
        }
        stageDfOnce(d.filter(col("doc_id") % 3 === 0),
          stageDir.resolve("wave0.parquet"))
        run()
        // wave 1: fresh docs + near-copies of wave-0 history
        stageDfOnce(
          d.filter(col("doc_id") % 3 === 1).unionByName(
            near("xqzy ", d.filter(col("doc_id") % 3 === 0 &&
              col("doc_id") % 2 === 0), 1000000L)),
          stageDir.resolve("wave1.parquet"))
        run()
        // wave 2: fresh docs + near-copies of wave-1 history + near-copies
        // of SAME-wave docs (intra-batch star dedup)
        stageDfOnce(
          d.filter(col("doc_id") % 3 === 2)
            .unionByName(near("abqr ", d.filter(col("doc_id") % 3 === 1 &&
              col("doc_id") % 2 === 1), 2000000L))
            .unionByName(near("xqzy ", d.filter(col("doc_id") % 3 === 2 &&
              col("doc_id") % 5 === 0), 3000000L)),
          stageDir.resolve("wave2.parquet"))
        run()
        val before = graft.ktk.DatasetMetadata.load(s, base, uuid).version
        run() // replay window: same checkpoint, no new files -> no commit
        require(graft.ktk.DatasetMetadata.load(s, base, uuid).version == before,
          "empty restart must not commit")
        java.nio.file.Files.createFile(done)
      }
      Ktk.readTable(s, base, uuid).select("doc_id", "lang").orderBy("doc_id")
    }),

    "q_stream_window" -> ((s, dir) => {
      // Structured Streaming over the events table: windowed count/sum with
      // Trigger.AvailableNow into a memory sink — the batch-incremental
      // shape (≙ the reference's closest concept, incremental updates;
      // SURVEY §2.8) expressed as a real streaming query.
      import org.apache.spark.sql.streaming.Trigger
      val name = "ev_" + Integer.toHexString(dir.hashCode)
      // the streaming source needs a directory; stage the table file into one
      val stageDir = java.nio.file.Paths.get(scratch(dir), "events_stream")
      java.nio.file.Files.createDirectories(stageDir)
      val target = stageDir.resolve("events.parquet")
      stageFileOnce(java.nio.file.Paths.get(s"$dir/events.parquet"), target)
      val schema = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
      val stream = s.readStream.schema(schema).parquet(stageDir.toString)
        .withColumn("tstamp", col("ts").cast("timestamp"))
        .groupBy(window(col("tstamp"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(to_date(col("window.start")).as("day"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("day", "event_type")
    }),

    "q_pipeline_e2e" -> ((s, dir) => {
      // the composed training-data pipeline, every stage exactly
      // DuckDB-twinned so the END-TO-END result hash-matches (near-dedup's
      // exactness is proven separately by q_dedup_minhash_exact/_cc):
      // quality filter -> exact dedup over planted copies -> per-language
      // char budgets -> store as a managed dataset partitioned by language
      // -> read back per-language stats.
      val base = scratch(dir)
      // planted exact dups via ONE scan + explode (r16: the self-union
      // decoded the parquet twice; rows identical, oracle re-proven); the
      // repartition keeps the quality-score + hash map stage at full width
      // (the single small file otherwise scans as one task)
      val d = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("*"), explode(array(lit(0L), lit(1000000L))).as("__off"))
        .withColumn("doc_id", col("doc_id") + col("__off")).drop("__off")
      val scored = d.withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      val exact = Dedup.exactByHash(scored, "doc_id", "text")
      val selected = Sampling.takeByBudgetPerGroup(exact, "lang",
        Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget = 10000L)
      Ktk.store(s, base, "corpus_clean", selected.select("doc_id", "lang", "text", "quality"),
        partitionOn = Seq("lang"), overwrite = true)
      Ktk.readTable(s, base, "corpus_clean")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))
        .orderBy("lang")
    }),

    "q_sql_surface" -> ((s, dir) => {
      // the pipeline kernels as PLAIN SQL via SparkSessionExtensions —
      // one implementation (and its codegen) behind both the Column API
      // and the SQL surface; the oracle recomputes each in DuckDB
      graft.functions.GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("documents_sqlv")
      s.sql("""SELECT doc_id,
              |  token_count(text) AS n_tokens,
              |  round(hash_unit('s9', doc_id), 6) AS h
              |FROM documents_sqlv ORDER BY doc_id""".stripMargin)
    }),

    "q_sql_catalog" -> ((s, dir) => {
      // the pure-SQL DML surface via the TableCatalog plugin: a
      // deletion-vector DELETE issued as SQL, result read back as SQL —
      // catalog calls are O(metadata), the DELETE is one merge-on-read
      // commit (no rewrite; in-query pinned)
      val base = scratch(dir)
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.base", base)
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_sql")) {
        Ktk.store(s, base, "orders_sql",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus"))
        val files0 = graft.ktk.DatasetMetadata.load(s, base, "orders_sql").partitions.keySet
        s.sql("DELETE FROM graft_cat.default.orders_sql WHERE o_totalprice > 250000.0")
        val md1 = graft.ktk.DatasetMetadata.load(s, base, "orders_sql")
        require(md1.partitions.keySet == files0 && md1.deleteFragments.nonEmpty,
          "SQL DELETE should be a deletion-vector commit with zero rewrites")
      }
      s.sql("""SELECT o_orderstatus, count(*) AS cnt,
              |  round(sum(o_totalprice), 2) AS total
              |FROM graft_cat.default.orders_sql GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    "q_meta_tables" -> ((s, dir) => {
      // Iceberg-style SQL metadata tables (`<cat>.default.t.files/history/
      // partitions/tombstones`) — O(metadata) listings planned as LOCAL
      // scans (no job, no file reads). The partitions listing is exactly
      // the distinct partition-key set (oracle below); files/history are
      // pinned in-query against the commit blob they mirror.
      val base = ensureLineitemDs(s, dir)
      s.conf.set("spark.sql.catalog.gmeta", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gmeta.base", base)
      val md = graft.ktk.DatasetMetadata.load(s, base, "lineitem")
      val files = s.sql("SELECT file, size_bytes FROM gmeta.default.lineitem.files").collect()
      require(files.length == md.partitions.size &&
        files.forall(r => md.sizeOf(r.getString(0)) == r.getLong(1)),
        "files metadata table must mirror the commit blob")
      require(s.sql("SELECT count(*) FROM gmeta.default.lineitem.history")
        .head.getLong(0) >= 1L, "history must list the store commit")
      require(s.sql("SELECT * FROM gmeta.default.lineitem.files")
        .queryExecution.executedPlan.toString.toLowerCase.contains("localtablescan"),
        "metadata scans must plan as local tables, not jobs")
      val parts = s.sql(
        """SELECT l_returnflag, files, size_bytes
          |FROM gmeta.default.lineitem.partitions ORDER BY l_returnflag""".stripMargin)
      require(parts.collect().forall(r => r.getLong(1) > 0 && r.getLong(2) > 0),
        "every listed partition carries live files and bytes")
      // the integrity tier rides the same 4-part names: a clean dataset
      // audits zero orphan rows through `.orphans` (bounded fsck view)
      require(s.sql("SELECT count(*) FROM gmeta.default.lineitem.orphans")
        .head.getLong(0) == 0L,
        "a clean dataset must audit zero orphans through SQL")
      parts.select("l_returnflag")
    }),

    "q_sql_dml" -> ((s, dir) => {
      // SQL UPDATE + MERGE INTO through the custom resolution rule
      // (GraftDmlRule): UPDATE tombstones + appends O(matched), MERGE is
      // the engine's merge-on-read upsert, a matched-DELETE MERGE
      // tombstones by key, and a final MERGE WITH SCHEMA EVOLUTION adds a
      // new column mid-alphabet (exercising the positional-zip repair) —
      // all pure SQL, all hash-matched by the oracle. In-query pin: no
      // original file is ever rewritten.
      val base = scratch(dir)
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.base", base)
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_dml3")) {
        Ktk.store(s, base, "orders_dml3",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus"))
        val files0 = graft.ktk.DatasetMetadata.load(s, base, "orders_dml3").partitions.keySet
        s.sql("UPDATE graft_cat.default.orders_dml3 SET o_totalprice = o_totalprice + 500.0 " +
          "WHERE o_totalprice > 300000.0")
        t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") + lit(100.0)).as("o_totalprice"))
          .createOrReplaceTempView("dml_src")
        s.sql("""MERGE INTO graft_cat.default.orders_dml3 AS t USING dml_src AS s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        t(s, dir, "orders").filter(col("o_orderkey") % 17 === 0)
          .select("o_orderkey").createOrReplaceTempView("dml_del")
        s.sql("""MERGE INTO graft_cat.default.orders_dml3 AS t USING dml_del AS s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN DELETE""".stripMargin)
        // partial-column, target-referencing UPDATE: unassigned columns
        // keep the target's value; the SET mixes both sides' attributes
        t(s, dir, "orders").filter(col("o_orderkey") % 19 === 0)
          .select(col("o_orderkey"), lit(2.0).as("factor"))
          .createOrReplaceTempView("dml_part")
        s.sql("""MERGE INTO graft_cat.default.orders_dml3 AS t USING dml_part AS s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice * s.factor""".stripMargin)
        // MERGE WITH SCHEMA EVOLUTION: the analyzer routes the new 'note'
        // column through alterTable (one additive commit) before the merge;
        // 'note' sorts FIRST among payload columns, so this also exercises
        // the positional-zip corruption repair. Matched %23 keys take the
        // source row wholesale (original price + note), deleted %391 keys
        // re-insert.
        t(s, dir, "orders").filter(col("o_orderkey") % 23 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            lit("rush").as("note"))
          .createOrReplaceTempView("dml_evo")
        s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_cat.default.orders_dml3 AS t
                |USING dml_evo AS s ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val md1 = graft.ktk.DatasetMetadata.load(s, base, "orders_dml3")
        require(md1.schema.fieldNames.contains("note"),
          "WITH SCHEMA EVOLUTION must add the source's new column")
        require(files0.subsetOf(md1.partitions.keySet),
          "SQL DML must never rewrite original files (merge-on-read)")
      }
      s.sql("""SELECT o_orderstatus, coalesce(note, 'none') AS note,
              |  count(*) AS cnt, round(sum(o_totalprice), 2) AS total
              |FROM graft_cat.default.orders_dml3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    "q_sql_dyn_overwrite" -> ((s, dir) => {
      // dynamic partition overwrite (partitionOverwriteMode=dynamic):
      // INSERT OVERWRITE replaces exactly the partitions the batch lands
      // in — the engine derives the scope from the appended files' labels
      // in the SAME commit (one pass over the source, no pre-computed
      // distinct). In-query pins: untouched partitions keep their original
      // files, and the pre-overwrite content stays travelable.
      val base = scratch(dir)
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.base", base)
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_dyn")) {
        Ktk.store(s, base, "orders_dyn",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus")) // v1
        val files0 = graft.ktk.DatasetMetadata.load(s, base, "orders_dyn").partitions.keySet
        t(s, dir, "orders").createOrReplaceTempView("dyn_orders_src")
        val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          // the batch only carries status 'O': that partition swaps, the
          // others survive untouched (scan order: o_orderkey, o_totalprice,
          // o_orderstatus)
          s.sql("""INSERT OVERWRITE graft_cat.default.orders_dyn
                  |SELECT o_orderkey, o_totalprice * 0.5 AS o_totalprice, o_orderstatus
                  |FROM dyn_orders_src WHERE o_orderstatus = 'O'""".stripMargin)
        } finally prev match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None    => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        val md1 = graft.ktk.DatasetMetadata.load(s, base, "orders_dyn")
        require(md1.version == 2L, "dynamic overwrite must be ONE commit")
        require(files0.filterNot(_.contains("o_orderstatus=O"))
          .subsetOf(md1.partitions.keySet),
          "dynamic overwrite must not touch partitions absent from the batch")
        require(Ktk.readTableAsOf(s, base, "orders_dyn", 1L).count() ==
          t(s, dir, "orders").count(), "pre-overwrite snapshot must stay travelable")
      }
      s.sql("""SELECT o_orderstatus, count(*) AS cnt,
              |  round(sum(o_totalprice), 2) AS total
              |FROM graft_cat.default.orders_dyn GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    "q_sql_ddl" -> ((s, dir) => {
      // the SQL DDL tier: ALTER TABLE ADD COLUMNS (metadata-only additive
      // evolution), SET TBLPROPERTIES (versioned user metadata),
      // INSERT OVERWRITE PARTITION (a versioned content swap scoped by
      // deleteScope — zero rewrites outside the partition), and
      // TIMESTAMP AS OF resolution against the history's committed_at.
      val base = scratch(dir)
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.base", base)
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_ddl")) {
        Ktk.store(s, base, "orders_ddl",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus")) // v1
        s.sql("ALTER TABLE graft_cat.default.orders_ddl ADD COLUMNS (note STRING)") // v2
        s.sql("ALTER TABLE graft_cat.default.orders_ddl " +
          "SET TBLPROPERTIES ('pipeline' = 'curation')") // v3
        // overwrite ONE partition with a transformation of its v1 content
        s.sql("""INSERT OVERWRITE graft_cat.default.orders_ddl
                |PARTITION (o_orderstatus = 'F') (o_orderkey, o_totalprice, note)
                |SELECT o_orderkey, o_totalprice * 0.9 AS o_totalprice,
                |  'discounted' AS note
                |FROM graft_cat.default.orders_ddl VERSION AS OF 1
                |WHERE o_orderstatus = 'F'""".stripMargin) // v4
        val md = graft.ktk.DatasetMetadata.load(s, base, "orders_ddl")
        require(md.metadata.get("pipeline").contains("curation"),
          "SET TBLPROPERTIES must land in versioned user metadata")
        require(Ktk.readTableAsOf(s, base, "orders_ddl", 1L)
          .columns.sameElements(Array("o_orderstatus", "o_orderkey", "o_totalprice")),
          "pre-evolution snapshot must keep the v1 schema")
        // TIMESTAMP AS OF at the latest commit's committed_at resolves to
        // the current content (deterministic: ties resolve to max version)
        val latestTs = Ktk.history(s, base, "orders_ddl")
          .orderBy(col("version").desc).select("committed_at")
          .head.getTimestamp(0).toInstant.toString
        val nowCnt = s.sql("SELECT count(*) FROM graft_cat.default.orders_ddl").head.getLong(0)
        val asOfCnt = s.sql(
          s"SELECT count(*) FROM graft_cat.default.orders_ddl TIMESTAMP AS OF '$latestTs'")
          .head.getLong(0)
        require(asOfCnt == nowCnt,
          s"TIMESTAMP AS OF the latest commit must read current content ($asOfCnt vs $nowCnt)")
      }
      s.sql("""SELECT o_orderstatus, coalesce(note, 'none') AS note,
              |  count(*) AS cnt, round(sum(o_totalprice), 2) AS total
              |FROM graft_cat.default.orders_ddl
              |GROUP BY o_orderstatus, note ORDER BY 1, 2""".stripMargin)
    }),

    "q_sql_ctas" -> ((s, dir) => {
      // atomic CTAS + RTAS through the staging protocol: the SELECT's
      // plan executes at commitStagedChanges, files + ONE metadata put —
      // the table appears fully formed or not at all. REPLACE swaps
      // content, SCHEMA and partitioning in one commit on the same
      // version line; the pre-replace snapshot stays travelable.
      val base = scratch(dir)
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.base", base)
      if (!graft.ktk.DatasetMetadata.exists(s, base, "li_agg")) {
        // source fixture guarded separately: a first run that dies between
        // the two stores must not leave the query permanently failing on
        // "already exists"
        if (!graft.ktk.DatasetMetadata.exists(s, base, "li_ctas_src"))
          Ktk.store(s, base, "li_ctas_src",
            t(s, dir, "lineitem").select(
              "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"))
        s.sql("""CREATE TABLE graft_cat.default.li_agg PARTITIONED BY (l_returnflag) AS
                |SELECT l_returnflag, l_linestatus,
                |  count(*) AS cnt, sum(l_quantity) AS sum_qty
                |FROM graft_cat.default.li_ctas_src
                |GROUP BY l_returnflag, l_linestatus""".stripMargin) // v1
        s.sql("""REPLACE TABLE graft_cat.default.li_agg AS
                |SELECT l_returnflag, count(*) AS n,
                |  round(avg(l_extendedprice), 2) AS avg_price
                |FROM graft_cat.default.li_ctas_src
                |GROUP BY l_returnflag""".stripMargin) // v2: new schema
        val md = graft.ktk.DatasetMetadata.load(s, base, "li_agg")
        require(md.version == 2L, s"RTAS must extend the version line, got v${md.version}")
        require(Ktk.readTableAsOf(s, base, "li_agg", 1L)
            .columns.contains("sum_qty"),
          "pre-replace snapshot must keep the CTAS schema")
      }
      s.sql("""SELECT l_returnflag, n, avg_price
              |FROM graft_cat.default.li_agg ORDER BY 1""".stripMargin)
    }),

    "q_sql_partitions" -> ((s, dir) => {
      // partition-level SQL DDL: SHOW PARTITIONS parses the commit blob's
      // label paths (O(metadata), no filesystem walk) and DROP PARTITION
      // is one deleteScope commit with zero rewrites — pinned in-query.
      val base = scratch(dir)
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.base", base)
      if (!graft.ktk.DatasetMetadata.exists(s, base, "orders_parts")) {
        Ktk.store(s, base, "orders_parts",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus"))
        val files0 = graft.ktk.DatasetMetadata.load(s, base, "orders_parts").partitions.keySet
        s.sql("ALTER TABLE graft_cat.default.orders_parts DROP PARTITION (o_orderstatus = 'P')")
        val md1 = graft.ktk.DatasetMetadata.load(s, base, "orders_parts")
        require(md1.partitions.keySet.subsetOf(files0),
          "DROP PARTITION must be metadata-only (no rewrites)")
      }
      s.sql("SHOW PARTITIONS graft_cat.default.orders_parts")
        .orderBy("partition")
    }),

    "q_pipeline_curation" -> ((s, dir) => {
      // the budgeted-curation pipeline over this round's ops: doc-frequency
      // paragraph scrub -> keep-best exact dedup (longest copy wins) ->
      // token-budget selection -> reproducible shard assignment. Output is
      // self-validating: doc/token totals per stage and shard balance.
      // r16 perf: the duplicated corpus is ONE scan + ONE regexp pass +
      // explode — the old 2-branch self-union decoded the parquet and ran
      // the (expensive) regexp_replace twice for identical text (rows
      // identical, oracle re-proven). The repartition spreads the regexp
      // and the downstream paragraph explode across all cores: the single
      // small file otherwise scans as ONE task, and paragraphDedupFrequent
      // evaluates this subtree twice (df pass + anti-join pass)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          concat(lit("CURATION HEADER\n"),
            regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n")).as("text"))
        .select(col("doc_id"), col("text"),
          explode(array(lit(0L), lit(2000000L))).as("__off"))
        .select((col("doc_id") + col("__off")).as("doc_id"), col("text"))
      val scrubbed = Dedup.paragraphDedupFrequent(d, "doc_id", "text", maxDf = 2L)
        .withColumn("tok", TextAnalysis.tokenCount(col("text")))
      val deduped = Dedup.exactKeepBest(scrubbed, "doc_id", "text", col("tok"))
      val selected = Sampling.takeByBudget(deduped,
        Seq(col("tok").desc, col("doc_id")), "tok", budget = 20000L)
      val sharded = Sampling.shardCorpus(selected, col("doc_id"), "tok",
        shardTokens = 2000L, seed = "cur0")
      sharded.groupBy("shard_id").agg(sum("tok").as("load"), count(lit(1)).as("n"))
        .agg(count(lit(1)).as("shards"),
          sum("n").as("docs_selected"),
          sum("load").as("tokens_selected"),
          max("load").as("max_shard_load"))
    }),

    // -------------------------------------------------- maintenance ops
    "q_hash_dataset" -> ((s, dir) => {
      // the gate runs the PORTABLE md5 row hash so DuckDB replays the
      // fingerprints bit-for-bit (exact oracle); the xxhash64 default is
      // the production path, pinned by ScalaTest with planted data
      val region = t(s, dir, "region")
      Ktk.hashDataset(region, Seq("r_regionkey"),
          hashExpr = Some(Ktk.md5RowHash(region)))
        .withColumn("r_regionkey", col("r_regionkey").cast("long"))
        .orderBy("r_regionkey")
    }),

    "q_footer_stats" -> ((s, dir) => {
      // footer-derived row count must equal the logical count — an exact
      // oracle; file count is layout-dependent and covered by ScalaTest
      val base = ensureLineitemDs(s, dir)
      Ktk.parquetStats(s, base, "lineitem")
        .groupBy().agg(sum("rows").as("total_rows"))
    }),

    "q_ktk_fsck" -> ((s, dir) => {
      // integrity audit: a healthy table audits CLEAN (pinned in-query),
      // a hand-vanished data file and DV fragment are each reported with
      // their kind — the fragment case is the silent-resurrection hazard
      // and must sort first. Rows-only gate (filesystem faults have no
      // SQL twin); FsckSpec covers the full fault matrix.
      val base = scratch(dir)
      val uuid = "orders_fsck"
      val md0 = {
        Ktk.store(s, base, uuid,
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionOn = Seq("o_orderstatus"), overwrite = true)
        Ktk.deleteRows(s, base, uuid,
          predicates = Predicates.of(Seq(("o_totalprice", ">", 300000.0))))
        graft.ktk.DatasetMetadata.load(s, base, uuid)
      }
      require(Ktk.fsck(s, base, uuid).count() == 0L, "healthy table must audit clean")
      val fs = graft.ktk.DatasetMetadata.fs(s, base)
      val victim = md0.partitions.keys.toSeq.sorted.head
      fs.delete(new org.apache.hadoop.fs.Path(s"${md0.tableDir(base)}/$victim"), false)
      fs.delete(new org.apache.hadoop.fs.Path(
        md0.deletePath(base, md0.deleteFragments.head)), true)
      val issues = Ktk.fsck(s, base, uuid)
      val kindsFound = issues.select("kind").as[String](
        org.apache.spark.sql.Encoders.STRING).collect().toSeq
      require(kindsFound.head == "missing_dv_fragment",
        s"silent-resurrection hazard must sort first, got $kindsFound")
      require(kindsFound.contains("missing_data_file"), s"missing file not flagged: $kindsFound")
      // repair the fixture so later runs in the same scratch dir re-seed
      graft.ktk.DatasetMetadata.delete(s, base, uuid)
      issues.groupBy("kind").agg(count(lit(1)).as("cnt")).orderBy("kind")
    }),

    "q_ktk_salvage" -> ((s, dir) => {
      // repair after a storage incident, EXACT oracle: vanish every file of
      // the 'P' partition, salvage, read back — the surviving content must
      // equal DuckDB's recomputation (status <> 'P', minus the rows a prior
      // deleteRows tombstoned). Dry-run/no-op/refusal semantics are pinned
      // in-query: a healthy table salvages clean WITHOUT committing, a dry
      // run reports the full damage WITHOUT committing, the repair commits
      // exactly one version dropping exactly the vanished labels, and DV-
      // fragment loss REFUSES without the resurrection opt-in.
      val base = scratch(dir)
      val uuid = "orders_salvage"
      Ktk.store(s, base, uuid,
        t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        partitionOn = Seq("o_orderstatus"), overwrite = true)
      Ktk.deleteRows(s, base, uuid,
        predicates = Predicates.of(Seq(("o_totalprice", ">", 300000.0))))
      val md0 = graft.ktk.DatasetMetadata.load(s, base, uuid)
      require(Ktk.salvage(s, base, uuid).isEmpty, "healthy table must salvage clean")
      require(graft.ktk.DatasetMetadata.load(s, base, uuid).version == md0.version,
        "clean salvage must be a no-op commit-wise")
      val fs = graft.ktk.DatasetMetadata.fs(s, base)
      val victims = md0.partitions.keys.filter(_.startsWith("o_orderstatus=P/")).toSeq.sorted
      require(victims.nonEmpty, "fixture must have a P partition")
      victims.foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"${md0.tableDir(base)}/$v"), false))
      val dry = Ktk.salvage(s, base, uuid, dryRun = true)
      require(dry.map(_._2).sorted == victims, s"dry run must report the damage: $dry")
      require(graft.ktk.DatasetMetadata.load(s, base, uuid).version == md0.version,
        "dryRun must not commit")
      val rep = Ktk.salvage(s, base, uuid)
      require(rep.forall(_._1 == "missing_data_file") && rep.map(_._2).sorted == victims,
        s"repair must drop exactly the vanished labels: $rep")
      require(graft.ktk.DatasetMetadata.load(s, base, uuid).version == md0.version + 1,
        "repair must commit exactly one version")
      // refusal probe on a second fixture: losing a DV fragment would
      // resurrect deleted rows — salvage must throw without the opt-in
      val uuid2 = "region_salvage"
      Ktk.store(s, base, uuid2, t(s, dir, "region"), overwrite = true)
      Ktk.deleteRows(s, base, uuid2,
        predicates = Predicates.of(Seq(("r_regionkey", "==", 0L))))
      val md2 = graft.ktk.DatasetMetadata.load(s, base, uuid2)
      fs.delete(new org.apache.hadoop.fs.Path(
        md2.deletePath(base, md2.deleteFragments.head)), true)
      val refused =
        try { Ktk.salvage(s, base, uuid2); false }
        catch { case _: IllegalStateException => true }
      require(refused, "DV-fragment loss must refuse without acceptResurrection")
      require(Ktk.salvage(s, base, uuid2, acceptResurrection = true, dryRun = true)
        .exists(_._1 == "missing_dv_fragment"), "opt-in dry run must report the loss")
      graft.ktk.DatasetMetadata.delete(s, base, uuid2)
      Ktk.readTable(s, base, uuid)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "q_ktk_iterator" -> ((s, dir) => {
      // iterator read surface (≙ the reference's iter backend): lazy
      // driver-side pull over the same pruned/projected scan — the gate
      // reassembles the pulled rows and aggregates them to prove content
      // parity with the oracle
      val base = ensureLineitemDs(s, dir)
      val template = Ktk.readTable(s, base, "lineitem",
        columns = Seq("l_returnflag", "l_quantity"))
      val rows = Ktk.readTableAsIterator(s, base, "lineitem",
        columns = Seq("l_returnflag", "l_quantity"),
        predicates = Predicates.of(Seq(("l_returnflag", "==", "A")))).toSeq
      s.createDataFrame(java.util.Arrays.asList(rows: _*), template.schema)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    "q_ktk_indexon" -> ((s, dir) => {
      // dask_index_on analog: readTable(indexOn=…) range-repartitions and
      // sorts by the column — content must be EXACTLY the plain read
      val base = ensureLineitemDs(s, dir)
      Ktk.readTable(s, base, "lineitem", indexOn = Some("l_linestatus"))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_linestatus")
    }),

    "q_label_filter" -> ((s, dir) => {
      // label_filter hook: file-label predicate over the hive layout —
      // equivalent to the partition filter the oracle expresses in SQL
      val base = ensureLineitemDs(s, dir)
      Ktk.readTable(s, base, "lineitem",
        labelFilter = _.startsWith("l_returnflag=A"))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_linestatus")
    }),

    "q_ktk_gc" -> ((s, dir) => {
      // retention gc end-to-end: overwrite-store half the rows, append the
      // other half, gc(retain=0) — exactly ONE travelable version remains
      // (pinned) and the surviving content equals the full table
      val base = scratch(dir)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      Ktk.store(s, base, "orders_gc", orders.filter(col("o_orderkey") % 2 === 0),
        partitionOn = Seq("o_orderstatus"), overwrite = true)
      Ktk.update(s, base, "orders_gc",
        Some(orders.filter(col("o_orderkey") % 2 =!= 0)))
      Ktk.garbageCollect(s, base, "orders_gc", retainVersions = 0)
      require(Ktk.listVersions(s, base, "orders_gc").size == 1,
        "gc(retain=0) must leave exactly the current version travelable")
      Ktk.readTable(s, base, "orders_gc")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    "q_ktk_copy" -> ((s, dir) => {
      // dataset copy: distributed byte copy onto a fresh uuid/version line;
      // the copy's content must equal the source's (exact oracle)
      val base = ensureLineitemDs(s, dir)
      if (graft.ktk.DatasetMetadata.exists(s, base, "lineitem_gatecopy"))
        graft.ktk.DatasetMetadata.delete(s, base, "lineitem_gatecopy")
      Ktk.copyDataset(s, base, "lineitem", "lineitem_gatecopy")
      Ktk.readTable(s, base, "lineitem_gatecopy")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    })
  )

  /** DuckDB oracle for language ID, GENERATED from the same trigram profile
    * table the Scala UDF uses — counts per-gram occurrences via
    * length-difference (profile grams are non-self-overlapping, so this
    * equals the UDF's overlapping indexOf count), argmax with ties toward
    * the lexicographically larger language code (= Scala's maxBy on
    * (score, lang)), score 0 -> 'und'.
    */
  private def langIdOracleSql: String = {
    val langs = TextAnalysis.profiles.keys.toSeq.sorted
    val scoreExprs = langs.map { l =>
      val terms = TextAnalysis.profiles(l).map { g =>
        val esc = g.replace("'", "''")
        s"(length(t) - length(replace(t, '$esc', ''))) / ${g.length}"
      }
      terms.mkString("(", " + ", s") AS score_$l")
    }
    val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val caseArms = langs.sorted.reverse
      .map(l => s"WHEN score_$l = m THEN '$l'").mkString(" ")
    s"""WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
       |s AS (SELECT doc_id, ${scoreExprs.mkString(", ")} FROM lt),
       |g AS (SELECT doc_id, $best AS m, * FROM s)
       |SELECT lang_guess, count(*) AS n FROM (
       |  SELECT CASE WHEN m = 0 THEN 'und' $caseArms END AS lang_guess FROM g)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------------
  // DuckDB oracles. Omitted ONLY for genuinely hash/LSH/k-means-seeded ops
  // whose output depends on the engine's own hash family or iterative
  // seeding — the full current list (keep in sync with CORRECTNESS no_oracle
  // entries): q_dedup_minhash / _best / _cc / _incr, q_dedup_simhash,
  // q_ann_lsh, q_ann_ivf, q_ann_pq, q_ann_ivfpq (the four ANN gates carry
  // in-gate recall floors vs their exact twins), q_emb_neardup (in-gate
  // pair-recall floor vs q_emb_neardup_exact), q_emb_dedup_cc (exact twin
  // q_emb_dedup_cc_exact), q_semantic_dedup, q_cluster_sample,
  // q_image_dedup /
  // q_audio_dedup (JDK codec fixtures), q_ktk_fsck (fault-path fixture)
  // — q_quality_model converted to an EXACT oracle in r15 (scoring via
  // the replayable md5 kernel; training remains ScalaTest-gated)
  // → rows-only check; their exact semantics are covered by ScalaTest
  // oracles with planted data.
  // ------------------------------------------------------------------------

  /** DuckDB twin of [[Sampling.hashUnit]]: value of the first 8 hex chars
    * of md5(seed:key) as a unit double. DuckDB has no hex→int builtin, so
    * the value is a strpos polynomial — exact integer arithmetic, then one
    * double division, matching Spark's conv(substring(md5,1,8),16,10)/2^32
    * bit for bit.
    */
  private def duckU(keyExpr: String, seed: String): String = {
    val h = s"md5('$seed:' || $keyExpr)"
    val terms = (1 to 8).map { i =>
      val pow = 1L << (4 * (8 - i))
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * $pow"
    }.mkString(" + ")
    s"(($terms) / 4294967296.0)"
  }

  /** Shared CTE chain for the two DSIR oracles: per-doc hashed-gram
    * buckets (unigrams + space-joined bigrams, md5[0:15 hex] % 4096 — the
    * exact kernel of Dsir.gramBuckets), add-1-smoothed raw/target bucket
    * counts, the log-ratio table, and per-doc summed `log_weight`
    * (docs with no grams weigh 0). Target slice = lang = 'en'.
    */
  private val duckDsirWeightCtes: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '\s+'),
      |      t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang, unnest(list_transform(
      |      list_concat(toks, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])),
      |      t -> ('0x'||substr(md5(t),1,15))::BIGINT % 4096)) AS b
      |  FROM tk),
      |raw AS (SELECT b, count(*)::DOUBLE AS rc FROM g GROUP BY b),
      |tgt AS (SELECT b, count(*)::DOUBLE AS tc FROM g WHERE lang = 'en' GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM g)::DOUBLE AS rt,
      |               (SELECT count(*) FROM g WHERE lang = 'en')::DOUBLE AS tt),
      |ratio AS (
      |  SELECT raw.b,
      |    ln(coalesce(tgt.tc, 0) + 1) - ln(tot.tt + 4096)
      |      - ln(raw.rc + 1) + ln(tot.rt + 4096) AS lr
      |  FROM raw LEFT JOIN tgt USING (b), tot),
      |w AS (
      |  SELECT d.doc_id, coalesce(s.lw, 0.0) AS log_weight
      |  FROM documents d LEFT JOIN (
      |    SELECT g.doc_id, sum(r.lr) AS lw FROM g JOIN ratio r USING (b)
      |    GROUP BY g.doc_id) s USING (doc_id))""".stripMargin

  /** DuckDB word-n-gram expansion over a token-list column `toks`:
    * one row per n-gram window (space-joined), for docs with ≥ n tokens.
    */
  private def duckNgrams(n: Int): String =
    s"unnest(list_transform(range(1, len(toks) - ${n - 2}), " +
      s"i -> array_to_string(toks[i:i+${n - 1}], ' ')))"

  /** Frozen scoring weights for q_quality_model: 64 dyadic rationals
    * (multiples of 2^-4, so every partial sum is exact in binary and the
    * token-order of the fold cannot move the result) spanning [-10/16,
    * 10/16]. Deterministic closed form — not a training artifact — because
    * the gate proves the SCORING kernel; QualityModelSpec owns training.
    */
  private[graft] val qualityOracleWeights: Seq[Double] =
    (0 until 64).map(i => ((i * 37) % 21 - 10) / 16.0)

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_quality_model" -> {
      val warr = qualityOracleWeights.mkString("[", ",", "]")
      // same kernel as QualityModel.scoreReplayable: lowercase whitespace
      // tokens, feature index = bigint(md5[0:15 hex]) % 64, dot against the
      // frozen dyadic weights, sigmoid rounded to 6 digits (absorbs exp's
      // cross-engine last ulp; the margin itself is exact)
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    round(1.0/(1.0+exp(-(0.125 + coalesce(list_sum(list_transform(
         |      list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))), '\\s+'),
         |        t -> len(t) > 0),
         |      t -> ($warr::DOUBLE[])[(('0x'||substr(md5(t),1,15))::BIGINT % 64) + 1])),
         |      0.0)))), 6) AS quality_prob
         |  FROM documents)
         |SELECT doc_id, quality_prob, quality_prob >= 0.5 AS kept
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "q_scan_projection" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_ktk_iterator" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1""".stripMargin,

    "q_cube_stats" ->
      """SELECT 'cust' AS dataset, count(*) AS n_rows FROM customer
        |UNION ALL SELECT 'seed', count(*) FROM orders ORDER BY 1""".stripMargin,

    "q_cube_append" ->
      """SELECT o_custkey % 4 AS bucket, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cube_remove" ->
      """SELECT o_custkey % 4 AS bucket, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_custkey % 4 <> 3 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_delete_ds" ->
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_indexon" ->
      """SELECT l_linestatus, count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_label_filter" ->
      """SELECT l_linestatus, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_gc" ->
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_copy" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dnf_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE (l_returnflag = 'R' AND l_quantity > 45.0)
        |   OR (l_linestatus = 'O' AND l_discount < 0.02)
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    "q_in_filter" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice >= 150000.0
        |ORDER BY 1""".stripMargin,

    "q_null_semantics" ->
      """WITH d AS (SELECT CASE WHEN o_totalprice > 200000.0 THEN o_totalprice END AS big FROM orders)
        |SELECT 'nonnull' AS side, count(*) AS n FROM d WHERE big IS NOT NULL
        |UNION ALL
        |SELECT 'null' AS side, count(*) AS n FROM d WHERE big IS NULL
        |ORDER BY side""".stripMargin,

    "q_filter_expr" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 200000 AND o_orderpriority LIKE '1%' ORDER BY 1""".stripMargin,

    "q_ktk_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_pushdown" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30.0
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_ktk_index_read" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_linestatus, l_extendedprice
        |FROM lineitem WHERE l_linestatus = 'F' AND l_extendedprice >= 50000.0
        |ORDER BY 1, 2, 4""".stripMargin,

    "q_ktk_index_stats" ->
      """SELECT l_linestatus, CAST(count(DISTINCT l_returnflag) AS INT) AS n_partitions
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_update" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus <> 'F' OR (o_orderstatus = 'F' AND o_totalprice > 100000.0)
        |ORDER BY 1""".stripMargin,

    "q_ktk_delete_rows" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (o_totalprice > 150000.0) ORDER BY 1""".stripMargin,

    "q_ktk_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 3
        |), merged AS (
        |  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice FROM orders o
        |  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src
        |)
        |SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_catalog" ->
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE NOT o_totalprice > 250000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_dml" ->
      """WITH updated AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_totalprice > 300000.0 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |), merged AS (
        |  SELECT u.o_orderkey, u.o_orderstatus,
        |    CASE WHEN u.o_orderkey % 13 = 0 THEN o.o_totalprice + 100.0
        |         ELSE u.o_totalprice END AS o_totalprice
        |  FROM updated u JOIN orders o ON u.o_orderkey = o.o_orderkey
        |), after_delete AS (
        |  SELECT * FROM merged WHERE o_orderkey % 17 <> 0
        |), after_part AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 19 = 0 THEN o_totalprice * 2.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM after_delete
        |), after_evo AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(NULL AS VARCHAR) AS note
        |  FROM after_part WHERE o_orderkey % 23 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'rush' AS note
        |  FROM orders WHERE o_orderkey % 23 = 0
        |)
        |SELECT o_orderstatus, coalesce(note, 'none') AS note,
        |  count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM after_evo GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_sql_dyn_overwrite" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderstatus <> 'O'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 0.5 AS o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O'
        |)
        |SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_ddl" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, NULL AS note
        |  FROM orders WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 0.9 AS o_totalprice,
        |    'discounted' AS note
        |  FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT o_orderstatus, coalesce(note, 'none') AS note,
        |  count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM final GROUP BY o_orderstatus, note ORDER BY 1, 2""".stripMargin,

    "q_sql_ctas" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_partitions" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS "partition"
        |FROM (SELECT DISTINCT o_orderstatus FROM orders
        |      WHERE o_orderstatus <> 'P')
        |ORDER BY 1""".stripMargin,

    "q_ktk_update_rows" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(CASE WHEN o_totalprice > 200000.0
        |    THEN o_totalprice + 1000.0 ELSE o_totalprice END, 2) AS o_totalprice
        |FROM orders ORDER BY 1""".stripMargin,

    "q_ktk_cdf" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), ch AS (
        |  SELECT 'delete' AS change_type, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_totalprice > 200000.0
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0 AND NOT o_totalprice > 200000.0
        |  UNION ALL
        |  SELECT 'insert', o_orderstatus, o_totalprice FROM src
        |)
        |SELECT change_type, o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_cdc_batch" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 250.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0
        |), ch AS (
        |  SELECT 'delete' AS change_type, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_totalprice > 150000.0
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0 AND NOT o_totalprice > 150000.0
        |  UNION ALL
        |  SELECT 'insert', o_orderstatus, o_totalprice FROM src
        |)
        |SELECT change_type, o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_meta_tables" ->
      """SELECT DISTINCT l_returnflag FROM lineitem ORDER BY 1""".stripMargin,

    "q_ktk_timetravel" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O' ORDER BY 1""".stripMargin,

    "q_ktk_evolve" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CASE WHEN o_orderstatus = 'F' THEN o_orderkey * 2 END AS o_note
        |FROM orders WHERE o_orderstatus IN ('O', 'F') ORDER BY 1""".stripMargin,

    "q_ktk_dispatch" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dsv2_scan" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem WHERE l_returnflag = 'A' AND l_quantity >= 48.0
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_dsv2_dv" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 100000.0)
        |  AND o_totalprice > 50000.0 ORDER BY 1""".stripMargin,

    "q_dsv2_dpp" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  round(sum(l_extendedprice), 2) AS total
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_left" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment, round(o_totalprice, 2) AS o_totalprice
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 250000.0 ORDER BY 1""".stripMargin,

    "q_join_inner_multi" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_zonemap" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-06-01' AND l_shipdate < TIMESTAMP '2000-08-01'
        |  AND l_quantity > 25.0
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_ktk_zorder" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_partkey, l_suppkey, l_quantity
        |FROM lineitem WHERE l_suppkey = 1 ORDER BY 1, 2""".stripMargin,

    "q_bloom_prune" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 2, 3, 7) ORDER BY 1""".stripMargin,

    "q_bloom_semijoin" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey < 40)
        |ORDER BY 1""".stripMargin,

    "q_ktk_bucketed" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part ORDER BY 1""".stripMargin,

    "q_dsv2_agg" ->
      """SELECT count(*) AS cnt, min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key
        |FROM lineitem""".stripMargin,

    "q_dsv2_agg_where" ->
      """SELECT count(*) AS cnt, min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,

    "q_spj_merge" ->
      """SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |       l.l_returnflag, l.l_linestatus, s.grp_cnt
        |FROM lineitem l
        |JOIN (SELECT l_returnflag, l_linestatus, count(*) AS grp_cnt
        |      FROM lineitem GROUP BY 1, 2) s
        |  USING (l_returnflag, l_linestatus)
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    "q_ktk_twophase" ->
      """SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
        |FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY 1""".stripMargin,

    "q_ktk_compact" ->
      """SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  round(s_acctbal, 2) AS s_acctbal
        |FROM supplier WHERE s_nationkey IN (0, 1, 2) ORDER BY 1""".stripMargin,

    "q_ktk_history" ->
      """SELECT CAST(version AS BIGINT) AS version, operation,
        |  CAST(files_added AS BIGINT) AS files_added,
        |  CAST(files_removed AS BIGINT) AS files_removed,
        |  CAST(tombstone_fragments AS BIGINT) AS tombstone_fragments
        |-- v5 compacts the two small same-seq v2 files into one; the v1
        |-- file is a SINGLETON in its seq, so it survives untouched and
        |-- its tombstones (the DELETE + the MERGE image) stay pending
        |FROM (VALUES (1, 'WRITE', 1, 0, 0), (2, 'WRITE', 2, 0, 0),
        |             (3, 'DELETE', 0, 0, 1), (4, 'MERGE', 1, 0, 2),
        |             (5, 'COMPACT', 1, 2, 2))
        |  AS t(version, operation, files_added, files_removed, tombstone_fragments)
        |ORDER BY version""".stripMargin,

    "q_ktk_adopt" ->
      """SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  round(s_acctbal, 2) AS s_acctbal
        |FROM supplier WHERE s_acctbal > 2000.0 ORDER BY 1""".stripMargin,

    "q_ktk_interop" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
        |ORDER BY 1""".stripMargin,

    "q_cube_extend" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        |  CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS is_urgent
        |FROM orders WHERE o_totalprice > 250000.0
        |ORDER BY 1, 2""".stripMargin,

    "q_cube_query" ->
      """SELECT o_custkey, o_orderkey, o_custkey % 4 AS bucket,
        |  round(o_totalprice, 2) AS o_totalprice, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 100000.0
        |ORDER BY 1, 2""".stripMargin,

    "q_cube_dv" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'AUTOMOBILE' AND NOT o_totalprice > 250000.0
        |ORDER BY 1, 2""".stripMargin,

    "q_cube_interval" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice >= 100000.0 AND o_totalprice < 200000.0 AND c_mktsegment = 'MACHINERY'
        |ORDER BY 1, 2""".stripMargin,

    "q_cube_left" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 290000.0
        |ORDER BY 1, 2""".stripMargin,

    "q_dedup_keeplast" ->
      """SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS c_acctbal FROM customer
        |QUALIFY row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey DESC) = 1
        |ORDER BY 1""".stripMargin,

    "q_dup_check" ->
      """SELECT count(*) AS dup_groups, CAST(sum(n) AS BIGINT) AS dup_rows FROM (
        |  SELECT l_orderkey, l_linenumber, count(*) AS n FROM lineitem
        |  GROUP BY 1, 2 HAVING count(*) > 1)""".stripMargin,

    "q_collect_list" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  array_to_string(list_sort(list(n_name)), ',') AS names
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_union" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_totalprice > 280000.0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 270000.0
        |ORDER BY 1, 2""".stripMargin,

    "q_sort" ->
      """SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal FROM supplier
        |ORDER BY round(s_acctbal, 2) DESC, s_suppkey ASC""".stripMargin,

    "q_normalize_types" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal
        |FROM customer ORDER BY 1""".stripMargin,

    "q_events_agg" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_resample" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 21600000000 AS b, value FROM events),
        |agg AS (SELECT user_id, b, count(*) AS n, round(sum(value), 2) AS v
        |        FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, min(b) AS mn, max(b) AS mx FROM agg GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS b FROM span),
        |j AS (SELECT g.user_id, g.b, coalesce(a.n, 0) AS n, a.v
        |      FROM grid g LEFT JOIN agg a USING (user_id, b))
        |SELECT user_id, b * 21600000 AS bucket_ms, n, v AS v_sum,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        |FROM j ORDER BY user_id, b""".stripMargin,

    "q_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars FROM documents)
        |SELECT doc_id, lang, n_chars FROM u
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 2 = 0
        |  AND text NOT IN (SELECT text FROM documents WHERE doc_id % 3 <> 0)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_exact" ->
      """WITH fixture AS (
        |  SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |  UNION ALL
        |  SELECT doc_id + 1000000, trim(lower(regexp_replace('xqzy ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id, substring(t, i, 5) AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i FROM fixture)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |),
        |jac AS (
        |  SELECT a, b, i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter JOIN sizes na ON na.doc_id = a JOIN sizes nb ON nb.doc_id = b
        |)
        |SELECT f.doc_id FROM fixture f
        |WHERE f.doc_id NOT IN (SELECT b FROM jac WHERE j >= 0.6)
        |ORDER BY 1""".stripMargin,

    "q_dedup_minhash_cc_exact" ->
      """WITH RECURSIVE fixture AS (
        |  SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |  UNION ALL
        |  SELECT doc_id + 1000000, trim(lower(regexp_replace('v1 ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |  UNION ALL
        |  SELECT doc_id + 2000000, trim(lower(regexp_replace('v2 v2 ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id, substring(t, i, 5) AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i FROM fixture)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2
        |),
        |edges AS (
        |  SELECT a, b FROM inter JOIN sizes na ON na.doc_id = a JOIN sizes nb ON nb.doc_id = b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.6
        |),
        |bidir AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
        |reach(node, rep) AS (
        |  SELECT doc_id, doc_id FROM fixture
        |  UNION
        |  SELECT b.b, r.rep FROM reach r JOIN bidir b ON b.a = r.node
        |),
        |comp AS (SELECT node, min(rep) AS component FROM reach GROUP BY 1)
        |SELECT node AS doc_id FROM comp WHERE node = component ORDER BY 1""".stripMargin,

    "q_dedup_minhash_best_exact" ->
      """WITH RECURSIVE fixture AS (
        |  SELECT doc_id, length(text) AS len,
        |    trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |  UNION ALL
        |  SELECT doc_id + 1000000, length('v1 ' || text),
        |    trim(lower(regexp_replace('v1 ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |  UNION ALL
        |  SELECT doc_id + 2000000, length('v2 v2 ' || text),
        |    trim(lower(regexp_replace('v2 v2 ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id, substring(t, i, 5) AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i FROM fixture)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2
        |),
        |edges AS (
        |  SELECT a, b FROM inter JOIN sizes na ON na.doc_id = a JOIN sizes nb ON nb.doc_id = b
        |  WHERE i * 1.0 / (na.n + nb.n - i) >= 0.6
        |),
        |bidir AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
        |reach(node, rep) AS (
        |  SELECT doc_id, doc_id FROM fixture
        |  UNION
        |  SELECT b.b, r.rep FROM reach r JOIN bidir b ON b.a = r.node
        |),
        |comp AS (SELECT node, min(rep) AS component FROM reach GROUP BY 1),
        |ranked AS (
        |  SELECT c.component, f.doc_id,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY f.len DESC, f.doc_id) AS rn
        |  FROM comp c JOIN fixture f ON f.doc_id = c.node)
        |SELECT doc_id FROM ranked WHERE rn = 1 ORDER BY 1""".stripMargin,

    "q_dedup_simhash_exact" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
        |FROM documents WHERE doc_id < 40 ORDER BY 1, 2""".stripMargin,

    "q_dedup_ngram" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 50),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS g
        |  FROM toks),
        |mut AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t2) < 3 THEN [array_to_string(t2, ' ')]
        |      ELSE list_transform(range(1, len(t2) - 1), i -> array_to_string(t2[i:i+2], ' ')) END) AS g
        |  FROM (SELECT doc_id, list_concat(['one','two','three'], t) AS t2 FROM toks))
        |SELECT a.doc_id AS id_a,
        |  round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |        (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
        |FROM grams a JOIN mut b ON a.doc_id = b.doc_id
        |ORDER BY 1""".stripMargin,

    "q_csv_roundtrip" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region ORDER BY 1",

    "q_date_pred" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-06-01' AND l_shipdate < TIMESTAMP '2000-08-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
        |ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY 1, 2""".stripMargin,

    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5) + 1e-6, 2) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95) + 1e-6, 2) AS p95,
        |  round(quantile_cont(l_quantity, 0.25) + 1e-6, 2) AS q25
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_semi_join" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY 1""".stripMargin,

    "q_intersect" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
        |INTERSECT
        |SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer ORDER BY 1""".stripMargin,

    "q_except" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nk FROM nation
        |EXCEPT
        |SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier ORDER BY 1""".stripMargin,

    "q_stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
        |m AS (SELECT user_id, ms, value,
        |  CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 3600000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |s AS (SELECT user_id, ms, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, start_ms, end_ms, n_events, sum_value FROM g
        |WHERE sid < (SELECT max(sid) FROM g g2 WHERE g2.user_id = g.user_id)
        |ORDER BY 1, 2""".stripMargin,

    "q_stream_feed" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('O', 'F', 'P') ORDER BY o_orderkey""".stripMargin,

    "q_stream_cdc" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 250.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 11 = 0
        |), ch AS (
        |  SELECT 'delete' AS change_type, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_totalprice > 200000.0
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 11 = 0 AND NOT o_totalprice > 200000.0
        |  UNION ALL
        |  SELECT 'insert', o_orderstatus, o_totalprice FROM src
        |)
        |SELECT change_type, o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_ingest" ->
      """SELECT count(DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS n_docs
        |FROM documents WHERE length(text) >= 100""".stripMargin,

    "q_stream_upsert" ->
      """SELECT o_orderkey,
        |  round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END, 2) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_stream_dedup_history" ->
      """WITH waves AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 15 = 0
        |  UNION ALL SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL SELECT doc_id + 2000000, text, lang FROM documents
        |    WHERE doc_id % 3 = 1 AND doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 3000000, text, lang FROM documents WHERE doc_id % 15 = 0),
        |ranked AS (
        |  SELECT doc_id, lang, row_number() OVER (
        |      PARTITION BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |      ORDER BY CASE WHEN doc_id >= 2000000 THEN 2
        |                    WHEN doc_id >= 1000000 THEN 1
        |                    ELSE doc_id % 3 END, doc_id) AS rn
        |  FROM waves)
        |SELECT doc_id, lang FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_stream_neardedup_history" ->
      """WITH fixture AS (
        |  SELECT 0 AS wave, doc_id, lang,
        |    trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60 AND doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 1, doc_id, lang, trim(lower(regexp_replace(text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60 AND doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 1, doc_id + 1000000, lang,
        |    trim(lower(regexp_replace('xqzy ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |    AND doc_id % 3 = 0 AND doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 2, doc_id, lang, trim(lower(regexp_replace(text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60 AND doc_id % 3 = 2
        |  UNION ALL
        |  SELECT 2, doc_id + 2000000, lang,
        |    trim(lower(regexp_replace('abqr ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |    AND doc_id % 3 = 1 AND doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 2, doc_id + 3000000, lang,
        |    trim(lower(regexp_replace('xqzy ' || text, '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id < 40 AND length(text) >= 60
        |    AND doc_id % 3 = 2 AND doc_id % 5 = 0
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id, substring(t, i, 5) AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i FROM fixture)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |),
        |jac AS (
        |  SELECT a, b, i * 1.0 / (na.n + nb.n - i) AS j
        |  FROM inter JOIN sizes na ON na.doc_id = a JOIN sizes nb ON nb.doc_id = b
        |),
        |nbr AS (SELECT a AS x, b AS y FROM jac WHERE j >= 0.6
        |        UNION ALL SELECT b, a FROM jac WHERE j >= 0.6)
        |SELECT f.doc_id, f.lang FROM fixture f
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM nbr n JOIN fixture e ON e.doc_id = n.y
        |  WHERE n.x = f.doc_id
        |    AND (e.wave < f.wave OR (e.wave = f.wave AND e.doc_id < f.doc_id)))
        |ORDER BY doc_id""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_asof_join" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type, value FROM events),
        |l AS (SELECT user_id, ms, value FROM e WHERE event_type = 'click'),
        |r AS (SELECT user_id, ms AS rms, value AS last_purchase FROM e WHERE event_type = 'purchase')
        |SELECT l.user_id, l.ms, round(l.value, 2) AS click_value,
        |  round(r.last_purchase, 2) AS last_purchase
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ms >= r.rms
        |ORDER BY 1, 2""".stripMargin,

    "q_salted_join" ->
      """SELECT l_returnflag, o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_range_join" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
        |c AS (SELECT user_id, ms FROM e WHERE event_type = 'click'),
        |w AS (SELECT user_id, ms AS start_ms, ms + 3600000 AS end_ms FROM e WHERE event_type = 'purchase')
        |SELECT w.user_id, w.start_ms, count(*) AS n_clicks
        |FROM w JOIN c ON w.user_id = c.user_id AND c.ms >= w.start_ms AND c.ms < w.end_ms
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 90
        |ORDER BY 1""".stripMargin,

    // decodeFeatures' opaque-format byte histogram replayed from
    // hex(encode(text)): a byte's 8-bin index is its high hex nibble >> 1,
    // so bin b counts even-position hex chars in {2b, 2b+1}
    "q_multimodal" -> {
      val hexChars = "0123456789ABCDEF"
      val bins = (0 until 8).map { b =>
        val cs = Seq(hexChars(2 * b), hexChars(2 * b + 1))
          .map(c => s"'$c'").mkString(", ")
        s"round(len(list_filter(range(1, n + 1), i -> substr(hx, 2*i - 1, 1) IN ($cs))) * 1.0 / n, 6) AS f$b"
      }.mkString(",\n  ")
      s"""WITH b AS (
         |  SELECT doc_id AS id, encode(text) AS blob FROM documents WHERE doc_id < 100),
         |h AS (
         |  SELECT id, hex(blob) AS hx, octet_length(blob) AS n FROM b)
         |SELECT id,
         |  $bins
         |FROM h ORDER BY id""".stripMargin
    },

    // exact pairs (same construction as q_emb_neardup_exact, two jitter
    // generations) + recursive-CTE connected components, the
    // q_dedup_minhash_cc_exact pattern: survivors = component minima
    "q_emb_dedup_cc_exact" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |j1 AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> x * CAST(1.01 AS FLOAT) + CAST(0.001 AS FLOAT)) AS f
        |  FROM embeddings WHERE vec_id < 300),
        |c AS (
        |  SELECT vec_id, v FROM e
        |  UNION ALL SELECT vec_id, CAST(f AS DOUBLE[]) FROM j1
        |  UNION ALL
        |  SELECT vec_id % 1000000 + 2000000,
        |    CAST(list_transform(f, x -> x * CAST(1.01 AS FLOAT) + CAST(0.001 AS FLOAT)) AS DOUBLE[])
        |  FROM j1),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b FROM c a, c b
        |  WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.9),
        |bidir AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach(node, rep) AS (
        |  SELECT vec_id, vec_id FROM c
        |  UNION
        |  SELECT b.b, r.rep FROM reach r JOIN bidir b ON b.a = r.node),
        |comp AS (SELECT node, min(rep) AS component FROM reach GROUP BY 1)
        |SELECT node AS vec_id FROM comp WHERE node = component ORDER BY 1""".stripMargin,

    // the brute-force near-dup twin replayed exactly: same planted double
    // jitter, same double cosine — pair membership at 0.9 has ~0.49 of
    // margin on both sides (planted ≈ 0.9999, natural ≤ 0.51)
    "q_emb_neardup_exact" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 1000
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    CAST(list_transform(embedding,
        |      x -> x * CAST(1.01 AS FLOAT) + CAST(0.001 AS FLOAT)) AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM c a, c b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.9
        |ORDER BY 1, 2""".stripMargin,

    "q_ann_topk" ->
      """SELECT a.vec_id AS query_id, b.vec_id
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < 3 AND a.vec_id <> b.vec_id
        |QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |  ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10
        |ORDER BY 1, 2""".stripMargin,

    "q_ann_radius" ->
      """SELECT a.vec_id AS query_id, b.vec_id,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < 3 AND a.vec_id <> b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.25
        |ORDER BY 1, 2""".stripMargin,

    "q_c4_filter" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    concat_ws(chr(10),
        |      substr(text,1,60) || '.' || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END,
        |      substr(text,1,20),
        |      'short line.',
        |      substr(text,5,60) || ' javascript required.',
        |      substr(text,10,60) || '!' || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END,
        |      substr(text,15,60) || '?') AS text
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |      x -> regexp_matches(x, '[.!?]$')
        |        AND len(list_filter(regexp_split_to_array(x, '\s+'), w -> w <> '')) >= 5
        |        AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM src
        |)
        |SELECT doc_id, list_aggregate(kept, 'string_agg', chr(10)) AS clean_text
        |FROM k
        |WHERE len(kept) >= 3
        |  AND NOT contains(lower(text), 'lorem ipsum')
        |  AND NOT contains(text, '{')
        |ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
        |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''), x -> length(x))) AS DOUBLE)
        |        / len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) END AS mtl
        |  FROM documents)
        |SELECT doc_id, round((
        |    (CASE WHEN n >= 10 AND n <= 10000 THEN 1.0 WHEN n >= 3 THEN 0.5 ELSE 0.0 END) +
        |    (CASE WHEN punct <= 0.2 THEN 1.0 WHEN punct <= 0.4 THEN 0.5 ELSE 0.0 END) +
        |    (CASE WHEN mtl >= 3.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END)
        |  ) / 3.0, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_dedup_paragraph" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g'), chr(10)) AS ls
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)+1), i -> {'pos': i, 'para': ls[i]})) AS u
        |  FROM d),
        |e AS (
        |  SELECT doc_id, u.pos AS pos, u.para AS para,
        |    lower(regexp_replace(trim(u.para), '\s+', ' ', 'g')) AS norm
        |  FROM p),
        |k AS (
        |  SELECT doc_id, pos, para,
        |    (length(norm) = 0 OR
        |     row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) = 1) AS keep
        |  FROM e)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM k WHERE keep GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_keepbest" ->
      """WITH u AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars FROM documents)
        |SELECT doc_id, lang, n_chars FROM u
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY (doc_id % 3) DESC, doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_para_keepbest" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g'), chr(10)) AS ls
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)+1), i -> {'pos': i, 'para': ls[i]})) AS u
        |  FROM d),
        |e AS (
        |  SELECT doc_id, u.pos AS pos, u.para AS para,
        |    lower(regexp_replace(trim(u.para), '\s+', ' ', 'g')) AS norm
        |  FROM p),
        |k AS (
        |  SELECT doc_id, pos, para,
        |    (length(norm) = 0 OR
        |     row_number() OVER (PARTITION BY norm
        |       ORDER BY (doc_id % 5) DESC, doc_id, pos) = 1) AS keep
        |  FROM e)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM k WHERE keep GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_para_frequent" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split('SHARED HEADER LINE' || chr(10) ||
        |      regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g'), chr(10)) AS ls
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)+1), i -> {'pos': i, 'para': ls[i]})) AS u
        |  FROM d),
        |e AS (
        |  SELECT doc_id, u.pos AS pos, u.para AS para,
        |    lower(regexp_replace(trim(u.para), '\s+', ' ', 'g')) AS norm
        |  FROM p),
        |hot AS (
        |  SELECT norm FROM e WHERE length(norm) > 0
        |  GROUP BY norm HAVING count(DISTINCT doc_id) > 2)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM e
        |WHERE length(norm) = 0 OR norm NOT IN (SELECT norm FROM hot)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS t,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), w -> length(w) > 0) AS w
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, w,
        |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> length(x) > 0) AS ls
        |  FROM d),
        |g AS (
        |  SELECT doc_id, ls,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS gs
        |  FROM l)
        |SELECT doc_id,
        |  CASE WHEN len(ls) = 0 THEN 0.0
        |    ELSE round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls), 6) END AS dup_line_frac,
        |  CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) = 0 THEN 0.0
        |    ELSE round(1.0 - CAST(list_sum(list_transform(list_distinct(ls), x -> length(x))) AS DOUBLE)
        |      / list_sum(list_transform(ls, x -> length(x))), 6) END AS dup_line_char_frac,
        |  CASE WHEN len(gs) = 0 THEN 0.0
        |    ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6) END AS dup_bigram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_text_langid" -> langIdOracleSql,

    "q_text_boilerplate" ->
      "SELECT doc_id, text FROM documents ORDER BY 1",

    // lossless PNG round-trip: decoded mean luma == mean of the first 256
    // UTF-8 bytes (zero-padded) — the byte values come back out of hex()
    "q_multimodal_decode" ->
      """WITH b AS (
        |  SELECT doc_id, substr(hex(encode(text)) || repeat('00', 256), 1, 512) AS hx
        |  FROM documents WHERE doc_id < 100),
        |v AS (SELECT doc_id, list_transform(range(1, 257), i ->
        |    (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16 +
        |    (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS bytes FROM b)
        |SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  round(list_sum(bytes) / 256.0 / 255.0, 6) AS mean_luma
        |FROM v ORDER BY doc_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS id, octet_length(encode(text)) * 8 AS dur
        |  FROM documents WHERE doc_id < 100),
        |f AS (SELECT id, least((dur // 1000) + 1, 16) AS nf FROM m)
        |SELECT id, CAST(nf AS INT) AS n_frames, (nf - 1) * 1000 AS last_ts_ms
        |FROM f ORDER BY id""".stripMargin,

    "q_edit_distance" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
        |  CAST(levenshtein(text, 'xq ' || text) AS BIGINT) AS edit_distance,
        |  round(1.0 - levenshtein(text, 'xq ' || text) /
        |    greatest(length(text), length('xq ' || text)), 6) AS edit_similarity
        |FROM documents WHERE doc_id % 13 = 0 ORDER BY id_a""".stripMargin,

    "q_bigram_lp" ->
      """WITH tokc AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS cu FROM (SELECT unnest(toks) AS w FROM tokc) GROUP BY w),
        |nn AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM uni),
        |bi AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |    FROM tokc WHERE len(toks) >= 2)),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cb) AS ctx FROM cb GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    avg(ln(0.9 * cb / ctx + 0.1 * cu / n)) AS lp
        |  FROM bi JOIN cb USING (w1, w2) JOIN ctx USING (w1)
        |    JOIN uni ON uni.w = bi.w2 CROSS JOIN nn
        |  GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |  round(coalesce(lp, 0.0), 6) AS bigram_lp
        |FROM tokc t LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_text_unigram_lp" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM freq)
        |SELECT doc_id, round(avg(log10((cnt + 1.0) / (n + v))), 6) AS unigram_lp
        |FROM toks JOIN freq USING (tok) CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_redact" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com from 192.168.1.'
        |      || CAST(doc_id % 200 AS VARCHAR)
        |      || ' call 555-123-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, md5(
        |  regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(nfc_normalize(t), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')) AS redacted_sig
        |FROM planted ORDER BY doc_id""".stripMargin,

    // fingerprint = xxhash64 over the normalized text, so distinct
    // fingerprints == distinct normalized strings (modulo a 2^-64 collision)
    // — the normalization is mirrored verbatim on the DuckDB side
    "q_text_fingerprint" ->
      """WITH u AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT regexp_replace(upper(text), ' ', '  ', 'g') AS text FROM documents)
        |SELECT count(DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS distinct_fps
        |FROM u""".stripMargin,

    "q_dsir_weights" ->
      s"""$duckDsirWeightCtes
         |SELECT doc_id, round(log_weight, 6) AS log_weight
         |FROM w ORDER BY doc_id""".stripMargin,

    "q_dsir_sample" -> {
      // Gumbel-max key over the same weights; the unit draw is the duckU
      // md5 polynomial clamped away from 0 (same 2^-32 floor as Spark)
      val u = duckU("CAST(doc_id AS VARCHAR)", "dsir")
      s"""$duckDsirWeightCtes,
         |keyed AS (
         |  SELECT doc_id,
         |    log_weight - ln(-ln(greatest($u, 1.0/4294967296.0))) AS sample_key
         |  FROM w)
         |SELECT d.doc_id, d.lang, round(k.sample_key, 6) AS sample_key
         |FROM (SELECT * FROM keyed ORDER BY sample_key DESC LIMIT 200) k
         |JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // sampling/mixture/packing/decontamination: the md5 draw and all
    // arithmetic are replicated exactly (doubles both sides), so these are
    // membership-exact, not just count-exact
    "q_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_regionkey <= 2 ORDER BY n_nationkey""".stripMargin,

    "q_sample_det" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckU("CAST(doc_id AS VARCHAR)", "s1")} < 0.2::DOUBLE
         |ORDER BY doc_id""".stripMargin,

    "q_sample_strata" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
         |WHERE ${duckU("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)", "s2")} <
         |  CASE l_returnflag WHEN 'A' THEN 0.1::DOUBLE WHEN 'N' THEN 0.05::DOUBLE
         |                    WHEN 'R' THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the range bounds interpolate the SAME Scala double arithmetic the
    // Spark side uses (0.8+0.1 ≠ 0.9 in binary), so boundary draws agree
    "q_sample_split" ->
      s"""WITH s AS (SELECT lang,
         |  CASE WHEN ${duckU("CAST(doc_id AS VARCHAR)", "s5")} < ${0.8} THEN 'train'
         |       WHEN ${duckU("CAST(doc_id AS VARCHAR)", "s5")} < ${0.8 + 0.1} THEN 'val'
         |       WHEN ${duckU("CAST(doc_id AS VARCHAR)", "s5")} < ${0.8 + 0.1 + 0.1} THEN 'test'
         |  END AS split FROM documents)
         |SELECT split, lang, count(*) AS n FROM s WHERE split IS NOT NULL
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "q_sample_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR))) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_budget_select" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM documents)
        |WHERE c <= 75000 ORDER BY doc_id""".stripMargin,

    // replays packGreedyDeterministic exactly: the same md5 hash grouping
    // (duckU ≡ hashUnit bit for bit), then per-group first-fit-decreasing
    // as an ordered recursive CTE — one iteration per rank, the bin-load
    // list carried as recursion state. NULLIF guards DuckDB's
    // list_position returning 0 (not NULL) on no match.
    "q_pack_greedy" -> {
      val g = s"CAST(floor(${duckU("doc_id", "pack0")} * 8) AS BIGINT)"
      val fit = "NULLIF(list_position(list_transform(f.bins, x -> x + o.tok <= 2000), true), 0)"
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS tok, $g AS g FROM documents
         |),
         |ordered AS (
         |  SELECT doc_id, tok, g,
         |    row_number() OVER (PARTITION BY g ORDER BY tok DESC, doc_id) AS r
         |  FROM docs
         |),
         |ffd(g, r, bins, doc_id, tok, bin) AS (
         |  SELECT g, CAST(0 AS BIGINT), CAST([] AS BIGINT[]), CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM (SELECT DISTINCT g FROM ordered)
         |  UNION ALL
         |  SELECT o.g, f.r + 1,
         |    CASE WHEN $fit IS NULL THEN list_append(f.bins, o.tok)
         |         ELSE f.bins[1:$fit-1] || [f.bins[$fit] + o.tok] || f.bins[$fit+1:] END,
         |    o.doc_id, o.tok,
         |    CASE WHEN $fit IS NULL THEN len(f.bins) ELSE $fit - 1 END
         |  FROM ffd f JOIN ordered o ON o.g = f.g AND o.r = f.r + 1
         |)
         |SELECT doc_id, tok AS n_chars, g * 1099511627776 + bin AS pack_id
         |FROM ffd WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin
    },

    "q_budget_per_lang" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM documents)
        |WHERE c <= 10000 ORDER BY doc_id""".stripMargin,

    "q_budget_map" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM documents)
        |WHERE c <= (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 15000 ELSE 8000 END)
        |ORDER BY doc_id""".stripMargin,

    "q_top_n_per_group" ->
      """SELECT doc_id, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY n_chars DESC, doc_id) <= 25
        |ORDER BY doc_id""".stripMargin,

    "q_shard_assign" ->
      """SELECT doc_id, CAST(floor((c - n_chars) / 20000.0) AS BIGINT) AS shard_id FROM (
        |  SELECT doc_id, n_chars,
        |    sum(n_chars) OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR))
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_sql_surface" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS INT) AS n_tokens,
         |  round(${duckU("CAST(doc_id AS VARCHAR)", "s9")}, 6) AS h
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the composed pipeline replayed stage by stage with each stage's own
    // proven twin: quality formula = q_text_quality's, exact dedup =
    // q_dedup_exact's keep-min-id-per-text, per-lang budget =
    // q_budget_per_lang's running cumsum; the store/read-back roundtrip
    // adds no rows, so the final per-language stats hash-match end to end
    "q_pipeline_e2e" ->
      """WITH u AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars FROM documents),
        |m AS (
        |  SELECT doc_id, text, lang, n_chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
        |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''), x -> length(x))) AS DOUBLE)
        |        / len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) END AS mtl
        |  FROM u),
        |q AS (
        |  SELECT doc_id, text, lang, n_chars FROM m
        |  WHERE round((
        |      (CASE WHEN n >= 10 AND n <= 10000 THEN 1.0 WHEN n >= 3 THEN 0.5 ELSE 0.0 END) +
        |      (CASE WHEN punct <= 0.2 THEN 1.0 WHEN punct <= 0.4 THEN 0.5 ELSE 0.0 END) +
        |      (CASE WHEN mtl >= 3.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END)
        |    ) / 3.0, 4) >= 0.5),
        |e AS (
        |  SELECT doc_id, text, lang, n_chars FROM q
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |b AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT *, sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS c
        |    FROM e) WHERE c <= 10000)
        |SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_decontaminate_semantic" ->
      """WITH b AS (
        |  SELECT list_transform(embedding,
        |    x -> x * CAST(1.01 AS FLOAT) + CAST(0.001 AS FLOAT)) AS bv
        |  FROM embeddings WHERE vec_id % 17 = 0)
        |SELECT e.vec_id, count(*) AS n_matches
        |FROM embeddings e, b
        |WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(b.bv AS DOUBLE[])) >= 0.9
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pipeline_curation" ->
      """WITH d0 AS (
        |  SELECT doc_id, 'CURATION HEADER' || chr(10) ||
        |    regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, 'CURATION HEADER' || chr(10) ||
        |    regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d0),
        |p AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(ls)+1), i -> {'pos': i, 'para': ls[i]})) AS u
        |  FROM l0),
        |e AS (SELECT doc_id, u.pos AS pos, u.para AS para,
        |  lower(regexp_replace(trim(u.para), '\s+', ' ', 'g')) AS norm FROM p),
        |hot AS (SELECT norm FROM e WHERE length(norm) > 0
        |  GROUP BY norm HAVING count(DISTINCT doc_id) > 2),
        |scrub AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
        |  FROM e WHERE length(norm) = 0 OR norm NOT IN (SELECT norm FROM hot)
        |  GROUP BY doc_id),
        |tokd AS (SELECT doc_id, text,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
        |  FROM scrub),
        |dedup AS (SELECT doc_id, tok FROM tokd
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY tok DESC, doc_id) = 1),
        |sel AS (SELECT doc_id, tok FROM (
        |  SELECT doc_id, tok,
        |    sum(tok) OVER (ORDER BY tok DESC, doc_id ROWS UNBOUNDED PRECEDING) AS c
        |  FROM dedup) WHERE c <= 20000),
        |sh AS (SELECT doc_id, tok, CAST(floor((c2 - tok) / 2000.0) AS BIGINT) AS shard_id
        |  FROM (SELECT doc_id, tok,
        |    sum(tok) OVER (ORDER BY md5('cur0:' || CAST(doc_id AS VARCHAR))
        |      ROWS UNBOUNDED PRECEDING) AS c2 FROM sel)),
        |g AS (SELECT shard_id, sum(tok) AS load, count(*) AS n FROM sh GROUP BY shard_id)
        |SELECT CAST(count(*) AS BIGINT) AS shards,
        |  CAST(sum(n) AS BIGINT) AS docs_selected,
        |  CAST(sum(load) AS BIGINT) AS tokens_selected,
        |  CAST(max(load) AS BIGINT) AS max_shard_load
        |FROM g""".stripMargin,

    "q_sample_exact" ->
      s"""WITH r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY ${duckU("CAST(doc_id AS VARCHAR)", "s4")}, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q_temperature" ->
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |w AS (SELECT lang, cnt,
         |        pow(cnt, 0.5) / (SELECT sum(pow(cnt, 0.5)) FROM c) AS w FROM c),
         |m AS (SELECT min(floor(cnt / w)) AS n FROM w),
         |f AS (SELECT w.lang, least(1.0::DOUBLE, m.n * w.w / w.cnt) AS frac FROM w, m)
         |SELECT d.doc_id, d.lang FROM documents d JOIN f ON d.lang = f.lang
         |WHERE ${duckU("CAST(d.doc_id AS VARCHAR)", "s7")} < f.frac
         |ORDER BY d.doc_id""".stripMargin,

    "q_mixture" ->
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |w AS (SELECT lang, cnt, 0.2::DOUBLE AS w FROM c
         |      WHERE lang IN ('de','en','es','fr','zh')),
         |m AS (SELECT min(floor(cnt / w)) AS n FROM w),
         |f AS (SELECT w.lang, least(1.0::DOUBLE, m.n * w.w / w.cnt) AS frac FROM w, m)
         |SELECT d.doc_id, d.lang FROM documents d JOIN f ON d.lang = f.lang
         |WHERE ${duckU("CAST(d.doc_id AS VARCHAR)", "s3")} < f.frac
         |ORDER BY d.doc_id""".stripMargin,

    "q_pack_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM d)
        |SELECT CAST(floor((run - n_tokens) / 500.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // twin of Decontamination.decontaminateParagraphs: paragraphs = 3-word
    // lines; a line is dropped when any of its word 3-grams appears in the
    // benchmark docs' gram set; docs rebuild from surviving lines in order
    // (a fully-contaminated doc vanishes — GROUP BY over kept rows only)
    "q_decontaminate_paragraph" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS text
        |  FROM documents),
        |btok AS (
        |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS toks
        |  FROM docs WHERE doc_id % 19 = 0),
        |bg AS (SELECT DISTINCT gram FROM (
        |  SELECT unnest(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS gram FROM btok)),
        |paras AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)+1), i -> {'pos': i, 'para': ls[i]})) AS u
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM docs WHERE doc_id % 19 <> 0)),
        |e AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM paras),
        |pg AS (
        |  SELECT doc_id, pos,
        |    unnest(list_transform(range(1, len(ptoks) - 1),
        |      i -> array_to_string(ptoks[i:i+2], ' '))) AS gram
        |  FROM (SELECT doc_id, pos,
        |          list_filter(regexp_split_to_array(lower(trim(para)), '\s+'),
        |            x -> x <> '') AS ptoks
        |        FROM e)),
        |bad AS (SELECT DISTINCT doc_id, pos FROM pg JOIN bg USING (gram))
        |SELECT e.doc_id, string_agg(e.para, chr(10) ORDER BY e.pos) AS text
        |FROM e ANTI JOIN bad USING (doc_id, pos)
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    // the report half: every contaminated 3-word line with its DISTINCT
    // shared-gram count (Spark's per-paragraph grams are pre-deduped, so
    // its plain count == DuckDB's count(DISTINCT)); pos re-based to 0
    "q_decontaminate_paragraph_report" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS text
        |  FROM documents),
        |btok AS (
        |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS toks
        |  FROM docs WHERE doc_id % 19 = 0),
        |bg AS (SELECT DISTINCT gram FROM (
        |  SELECT unnest(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS gram FROM btok)),
        |paras AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)+1), i -> {'pos': i, 'para': ls[i]})) AS u
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM docs WHERE doc_id % 19 <> 0)),
        |pg AS (
        |  SELECT doc_id, pos,
        |    unnest(list_transform(range(1, len(ptoks) - 1),
        |      i -> array_to_string(ptoks[i:i+2], ' '))) AS gram
        |  FROM (SELECT doc_id, u.pos AS pos,
        |          list_filter(regexp_split_to_array(lower(trim(u.para)), '\s+'),
        |            x -> x <> '') AS ptoks
        |        FROM paras))
        |SELECT pg.doc_id, CAST(pg.pos - 1 AS BIGINT) AS paragraph_pos,
        |  count(DISTINCT pg.gram) AS n_contaminated
        |FROM pg JOIN bg USING (gram)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_decontaminate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    x -> x <> '') AS toks
         |  FROM documents),
         |bg AS (SELECT DISTINCT gram FROM (
         |  SELECT ${duckNgrams(5)} AS gram FROM tok WHERE doc_id % 19 = 0)),
         |dg AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, ${duckNgrams(5)} AS gram FROM tok WHERE doc_id % 19 <> 0))
         |SELECT dg.doc_id, count(*) AS n_contaminated
         |FROM dg JOIN bg USING (gram)
         |GROUP BY 1 HAVING count(*) >= 3 ORDER BY 1""".stripMargin,

    "q_footer_stats" ->
      "SELECT count(*) AS total_rows FROM lineitem",

    // twin of Ktk.md5RowHash + hashDataset's sum-fold: first 60 bits of
    // md5 of the '|'-joined string casts, summed per group mod 2^63-1
    "q_hash_dataset" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
        |  CAST(SUM(CAST('0x' || substring(
        |        md5(concat_ws('|', CAST(r_regionkey AS VARCHAR), r_name)),
        |        1, 15) AS BIGINT))
        |    % 9223372036854775807 AS BIGINT) AS hash
        |FROM region GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ktk_salvage" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_orderstatus <> 'P' AND o_totalprice <= 300000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, term, tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, round(score, 6) AS score FROM s
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3
        |ORDER BY doc_id, term""".stripMargin,

    "q_chunk_docs" ->
      """WITH tokc AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks,
        |    unnest(list_filter(range(0, len(toks), 32),
        |      s -> s = 0 OR s < len(toks) - 8)) AS s
        |  FROM tokc WHERE len(toks) > 0)
        |SELECT doc_id, CAST(s / 32 AS INT) AS chunk_index,
        |  array_to_string(toks[s+1:s+40], ' ') AS text,
        |  CAST(len(toks[s+1:s+40]) AS BIGINT) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_index""".stripMargin,

    "q_para_withindoc" ->
      """WITH d AS (
        |  SELECT doc_id, text || chr(10) || text AS text FROM documents),
        |s AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ps,
        |    list_transform(string_split(text, chr(10)),
        |      p -> lower(regexp_replace(trim(p), '\s+', ' ', 'g'))) AS nps
        |  FROM d)
        |SELECT doc_id, array_to_string(
        |  list_transform(
        |    list_filter(range(1, len(ps) + 1),
        |      i -> nps[i] = '' OR list_position(nps, nps[i]) = i),
        |    i -> ps[i]), chr(10)) AS text
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_dedup_spans" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
        |tokc AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ltoks
        |  FROM u),
        |gp AS (
        |  SELECT doc_id, pos, array_to_string(ltoks[pos:pos+4], chr(1)) AS g FROM (
        |    SELECT doc_id, ltoks, unnest(range(1, len(ltoks) - 3)) AS pos
        |    FROM tokc WHERE len(ltoks) >= 5)),
        |dup AS (SELECT g FROM gp GROUP BY g HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, tpos FROM (
        |  SELECT doc_id, unnest(range(pos, pos + 5)) AS tpos FROM gp JOIN dup USING (g))),
        |tk AS (
        |  SELECT doc_id, tpos, toks[tpos] AS tok FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS tpos FROM tokc)),
        |kept AS (
        |  SELECT doc_id, count(*) AS nkept, string_agg(tok, ' ' ORDER BY tpos) AS text
        |  FROM tk ANTI JOIN cov USING (doc_id, tpos) GROUP BY doc_id)
        |SELECT tokc.doc_id, coalesce(kept.text, '') AS text,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) - coalesce(nkept, 0) AS BIGINT) AS n_removed
        |FROM tokc LEFT JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dup_ngrams" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
         |tok AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |    x -> x <> '') AS toks
         |  FROM u),
         |g AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, ${duckNgrams(5)} AS gram FROM tok WHERE len(toks) >= 5)),
         |dfreq AS (SELECT gram, count(*) AS d FROM g GROUP BY gram),
         |per AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM g JOIN dfreq USING (gram) GROUP BY doc_id)
         |SELECT u.doc_id,
         |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
         |  round(CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
         |        ELSE n_dup * 1.0 / n_grams END, 6) AS dup_fraction
         |FROM u LEFT JOIN per USING (doc_id)
         |ORDER BY u.doc_id""".stripMargin,

    "q_text_vocab" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens,
        |  CAST(length(text) AS INT) AS len_chars,
        |  round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) = 0 THEN 0.0
        |    ELSE CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
        |      x -> length(x))) AS DOUBLE) /
        |      len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) END, 6) AS mean_token_len,
        |  round(CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are','was','from'], x))) AS DOUBLE) /
        |      len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) END, 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
