package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`
  *
  * Untraced (`--trace 0`): set up three times, report the median set-up
  * time, then run whole blocks of the workload's closed loop (one client)
  * for at least `--seconds` of operation time and report the gated
  * end-to-end metrics.
  * Traced (`--trace 1`): set up once under the tracer, run one block
  * untraced and then one traced, and report the per-layer metrics,
  * self-time shares and the tracing overhead.
  * Every operation is checked against the generator's ground truth; the last
  * stdout line is the JSON result and a sidecar holds the detail.
  */
object Main {
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String)

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      m.getOrElse("out", ".bench_build/perfbench"))
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "selective_append" => new SelectiveAppend(rows = 32000, p1s = 8, p2s = 8, keys = 10000, batchRows = 300, seed)
    case "scan_dedup" => new ScanDedup(factRows = 300000, labels = 4, cubeRows = 20000, docs = 1200, clusters = 90, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    workload(args.workload, args.seed) // reject an unknown name before starting Spark
    val out = new File(args.out).getAbsoluteFile
    val data = new File(out, s"data-${ProcessHandle.current().pid()}")
    // also when the run is stopped by a signal
    sys.addShutdownHook(deleteTree(data))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startupS = (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(s"perfbench: JVM and Spark session ready after $startupS s")
    val ok =
      try {
        val result = if (args.trace) Runner.traced(spark, args, data.getPath, cores)
          else Runner.untraced(spark, args, data.getPath, cores)
        out.mkdirs()
        val sidecar = new File(out, s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
        java.nio.file.Files.writeString(sidecar.toPath, Json.sidecar(result.sidecar) + "\n")
        result.lines.foreach(println)
        println(s"sidecar ${sidecar.getPath}")
        println(Json.resultLine(result.failed == 0, result.attempted, result.failed, result.metrics))
        result.failed == 0
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
