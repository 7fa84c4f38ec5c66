package graft.ktk

import graft.SparkSpec
import graft.core.Predicates
import org.apache.spark.sql.functions._

/** ONE coordinate system for labels, everywhere. `_metadata.file_path`,
  * `input_file_name()` and SparkPath render a file's path URI-ENCODED
  * (space → %20, '%' → %25) while the metadata maps, DV fragments, index
  * partition lists and storage listings use the decoded on-disk form. A
  * label containing an encodable character that crosses the two worlds
  * unconverted silently misses its tombstones — deleted (GDPR) rows
  * RESURRECT — or stops pruning. These pins drive every label-keyed path
  * (DV read via readTable AND the connector, updateRows, merge, index
  * pruning, gc) over labels with a space, a literal '%', a literal
  * '+' (the url_decode '+'-as-space hazard) and MULTIBYTE UTF-8 values
  * (two/three/four-byte code points), plus a BASE path with a space.
  */
class LabelEncodingSpec extends SparkSpec {
  import spark.implicits._

  // partition values that URI-encode ('a b' → %20; '5%' → %25), the
  // url_decode hazard case ('a+b' must NOT decode into 'a b'), a value
  // the HIVE WRITER itself escapes ('k=v' → dir 'p=k%3Dv', whose literal
  // '%' then URI-encodes again in file_path), and MULTIBYTE UTF-8 values
  // ('café' → %C3%A9, CJK → three-byte sequences) whose decode must
  // reassemble the bytes as UTF-8, not per-byte. Multibyte labels need a
  // UTF-8 JVM locale (the container default is POSIX/ASCII, under which
  // java.nio refuses such paths before any graft code runs) — build.sbt
  // forks test JVMs with LC_ALL=C.UTF-8, the locale real clusters run.
  private val values = Seq("a b", "5%", "a+b", "k=v", "plain", "café", "中文 值")

  private def seed(base: String): DatasetMetadata = {
    val rows = values.zipWithIndex.flatMap { case (p, i) =>
      Seq((p, i * 10L + 1, 1.0), (p, i * 10L + 2, 2.0))
    }
    Ktk.store(spark, base, "ds", rows.toDF("p", "k", "v"),
      partitionOn = Seq("p"), secondaryIndices = Seq("k"))
  }

  test("deleted rows stay deleted under encodable partition values") {
    val base = tmpDir("enc")
    seed(base)
    // one tombstone inside EACH encodable partition
    values.zipWithIndex.foreach { case (_, i) =>
      Ktk.deleteRows(spark, base, "ds",
        predicates = Predicates.of(Seq(("k", "==", i * 10L + 1))))
    }
    // readTable path (scan labels from _metadata.file_path)
    Ktk.readTable(spark, base, "ds").count() shouldBe values.size.toLong
    Ktk.readTable(spark, base, "ds").select("k").as[Long].collect().sorted
      .toSeq shouldBe values.indices.map(_ * 10L + 2)
    // connector path (GraftDvScan labels from SparkPath)
    val conn = spark.read.format("graft").option("uuid", "ds").load(base)
    conn.count() shouldBe values.size.toLong
    // the combined fallback scan too: with the union split rule excluded
    // the read plans as in a session without GraftExtensions
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, graft.sources.GraftDvSplitRule.ruleName)
    try {
      val combined = spark.read.format("graft").option("uuid", "ds").load(base)
      combined.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.map(_.getClass.getSimpleName) shouldBe Seq("GraftDvScan")
      combined.count() shouldBe values.size.toLong
    } finally spark.conf.unset(excluded)
  }

  test("updateRows and merge key their tombstones correctly on encodable labels") {
    val base = tmpDir("enc")
    seed(base)
    Ktk.updateRows(spark, base, "ds",
      set = Map("v" -> lit(99.0)),
      conditionCol = Some(col("p") === "a b" && col("k") === 1L))
    val after = Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "a b"))))
    after.count() shouldBe 2
    after.filter(col("k") === 1L).select("v").as[Double].head() shouldBe 99.0
    // merge replaces one row inside the '%' partition
    Ktk.merge(spark, base, "ds",
      Seq(("5%", 11L, -1.0)).toDF("p", "k", "v"), keys = Seq("p", "k"))
    val m = Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("p", "==", "5%"))))
    m.count() shouldBe 2
    m.filter(col("k") === 11L).select("v").as[Double].head() shouldBe -1.0
  }

  test("secondary-index labels (built via input_file_name) intersect metadata labels") {
    val base = tmpDir("enc")
    seed(base)
    // the index stores label lists per value: a k-filter must PRUNE to the
    // one real file and still return the row — an encoded label in the
    // index would either prune nothing or fail to match the metadata list
    val got = Ktk.readTable(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 21L))))
    got.count() shouldBe 1
    got.select("p").as[String].head() shouldBe "a+b"
    got.inputFiles.length shouldBe 1
    got.inputFiles.head should include("p=a+b")
  }

  test("property: delete/read roundtrip over random printable-ASCII + multibyte UTF-8 partition values") {
    // sweep the whole printable-ASCII space (minus '/'): whatever mix of
    // writer-escaped, URI-encodable and plain characters a value hits,
    // the tombstones must land — one coordinate system, no exceptions
    val rnd = new scala.util.Random(7)
    // printable ASCII minus '/', plus two-byte (é, ß), three-byte (中, €)
    // and a surrogate-pair four-byte (🙂) UTF-8 code points — every
    // multibyte width the URI percent-decode must reassemble correctly
    val chars = (33 to 126).map(_.toChar).filterNot(_ == '/').mkString +
      "éß中€" + new String(Character.toChars(0x1F642))
    val cps = chars.codePoints().toArray
    val vals = Seq.tabulate(12)(i =>
      s"v$i" + new String(Seq.fill(4)(cps(rnd.nextInt(cps.length))).toArray, 0, 4))
    val base = tmpDir("encprop")
    val rows = vals.zipWithIndex.flatMap { case (p, i) =>
      Seq((p, i * 10L + 1, 1.0), (p, i * 10L + 2, 2.0))
    }
    Ktk.store(spark, base, "ds", rows.toDF("p", "k", "v"), partitionOn = Seq("p"))
    DatasetMetadata.load(spark, base, "ds").partitions.size should be >= vals.size
    Ktk.deleteRows(spark, base, "ds", predicates =
      Predicates.of(Seq(("k", "in", vals.indices.map(i => i * 10L + 1)))))
    Ktk.readTable(spark, base, "ds").count() shouldBe vals.size.toLong
    spark.read.format("graft").option("uuid", "ds").load(base)
      .count() shouldBe vals.size.toLong
  }

  test("gc under a base path containing a space reaps nothing referenced") {
    val base = java.nio.file.Files.createTempDirectory("enc dir").toString
    seed(base)
    Ktk.deleteRows(spark, base, "ds",
      predicates = Predicates.of(Seq(("k", "==", 1L))))
    Ktk.garbageCollect(spark, base, "ds", retainVersions = 0, sidecarGraceMs = 0)
    Ktk.readTable(spark, base, "ds").count() shouldBe (2L * values.size - 1)
    spark.read.format("graft").option("uuid", "ds").load(base)
      .count() shouldBe (2L * values.size - 1)
    Ktk.fsck(spark, base, "ds").count() shouldBe 0L
  }
}
