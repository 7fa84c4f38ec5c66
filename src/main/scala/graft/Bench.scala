package graft
import org.apache.spark.sql.SparkSession
/** Headline benchmark: every SparkEntry query timed on SPARK_GRAFT_SF_DIR.
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports the
  * MINIMUM — single-shot numbers at these runtimes are dominated by JIT/GC
  * noise (round 2 drifted ×1.16 on zero code change), and min-of-n is the
  * standard way to estimate the noise floor.
  */
object Bench {

  /** Checksum-materializing consumption (DEFAULT since r16; opt out with
    * SPARK_GRAFT_BENCH_FULL=0): fold every output column into
    * `bit_xor(xxhash64(struct(*)))` so value-producing gates measure REAL
    * work (bit_xor fold: overflow-free under ANSI mode, one long per
    * task). The old `count()` let Catalyst prune scalar projections —
    * q_dsir_weights and q_quality_model read FLAT at 10x data because the
    * pruned plan measured shuffle overhead, not the value pipeline.
    * Queries whose output carries a hash-unsupported type (maps) fall
    * back to count(), loudly.
    */
  private def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
    if (sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("0")) { df.count(); () }
    else {
      val checksum =
        try Some(df.select(
          bit_xor(xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*))).as("c")))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      checksum match {
        case Some(d) => d.head(); ()
        case None =>
          System.err.println("[bench] output not hashable, counting instead")
          df.count(); ()
      }
    }
  }

  /** Per-query seconds for stdout: 3 decimals under `Locale.ROOT` (the
    * default locale may print a decimal comma), trailing zeros stripped
    * but one fractional digit always kept — the adjudicator's `QUERY_RE`
    * needs the `.`. Callers may keep only a few-KB tail of stdout, so the
    * line stays short; full-precision doubles go to the BENCH_FULL.json
    * sidecar.
    */
  private[graft] def fmt(v: Double): String = {
    val t = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      .reverse.dropWhile(_ == '0').reverse
    if (t.endsWith(".")) t + "0" else t
  }

  /** The one-line stdout summary: total plus every query's min time. */
  private[graft] def summaryLine(results: Map[String, Double], sfDir: String): String = {
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(results.values.sum)},"queries":$qs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // local-iteration filter (unset for driver runs → all queries)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // filtered runs skip warmup for iteration speed — EXCEPT when taking
    // quiet pins (SPARK_GRAFT_BENCH_WARM=1), where the number must be
    // comparable to in-suite times (no-warmup inflates scan-shaped micro
    // queries ~2x: q_sort 0.183 cold vs 0.111 in-suite, r14)
    if (only.isEmpty || sys.env.get("SPARK_GRAFT_BENCH_WARM").contains("1"))
      SparkEntry.warmup(spark, sfDir)
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // drain garbage from previous queries OUTSIDE the timed region — with
      // ~135 queries in one JVM, heap pressure otherwise lands collections
      // inside every rep of later queries and min-of-n stops converging to
      // the noise floor (isolated runs measured 4-10x lower than in-suite).
      // Drop any cached blocks a previous query's fixture left behind too:
      // leaked persists otherwise shrink the usable heap for every query
      // after them.
      spark.catalog.clearCache()
      System.gc()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try SparkEntry.withVolatileConfs(spark) { materialize(fn(spark, sfDir)); () }
        catch { case e: Throwable =>
          errors += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }.toMap
    if (errors.nonEmpty) System.err.println(s"[bench] FAILED queries: ${errors.mkString(",")}")
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line = summaryLine(results, sfDir)
    val lineFull =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"sf":"$sfDir"}"""
    // the driver's stdout capture truncates past a few KB, losing ~100 of
    // the per-query timings — ALSO write the complete line to a sidecar
    // file so round-over-round adjudication never depends on the tail.
    // tools/bench_adjudicate.py prefers the sidecar after cross-checking
    // it against whatever survived the tail (same-run guard). Skipped for
    // filtered local runs: a partial map must never shadow a full one.
    // The notice goes to STDOUT in plain ASCII, before the JSON line (which
    // stays last): on stderr, sbt tagged it [error] and driver captures
    // mangled the arrow glyph into "artifact ? BENCH_FULL.json", which
    // read like a failure.
    if (only.isEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (lineFull + "\n").getBytes("UTF-8"))
        println(s"[bench] full per-query artifact written to $out")
      } catch { case e: Exception =>
        println(s"[bench] could not write $out: ${e.getMessage}")
      }
    }
    println(line)
    spark.stop()
  }
}
