package perfbench

/** Per-layer metrics of a traced run. Layer names follow the modules the
  * benchmark calls into: meta (graft.ktk.DatasetMetadata), prune
  * (Ktk.queryLabels), read_plan (Ktk.readTable), catalyst and exec (Spark),
  * dsv2 (graft.sources), cube (graft.cube), commit (Ktk.update), maint (Ktk
  * maintenance), store (Ktk.store) and dedup (graft.ops.Dedup).
  */
object Layers {

  val Names: Seq[String] =
    Seq("meta", "prune", "read_plan", "catalyst", "exec", "dsv2", "cube", "commit", "maint", "store", "dedup")

  /** Metrics of the traced run's result line (BENCHMARK.json `per_layer`):
    * every layer's share of the blocking path, and counts. Absolute times of
    * layers that only some workloads touch stay in the detail lines and the
    * sidecar, since they read 0 on the other workloads. Hadoop's local file
    * system counts bytes but not operations, so byte counts stand in for the
    * `fs_*_ops` counts here.
    */
  val PerLayer: Seq[(String, String)] =
    Names.map(l => s"$l.self_share" -> "%") ++ Seq(
      "exec.ms" -> "ms", "exec.task_cpu_ms" -> "ms", "catalyst.planning_ms" -> "ms",
      "catalyst.optimization_ms" -> "ms", "store.ms" -> "ms",
      "meta.fs_bytes_read" -> "bytes", "prune.spark_jobs" -> "count", "prune.kept_ratio" -> "ratio",
      "read_plan.spark_jobs" -> "count",
      "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.input_records" -> "count", "exec.shuffle_read_bytes" -> "bytes",
      "dsv2.files_scanned" -> "count", "cube.datasets_read" -> "count",
      "commit.spark_jobs" -> "count", "commit.bytes_written" -> "bytes",
      "commit.metadata_bytes_written" -> "bytes", "commit.data_files_added" -> "count",
      "maint.compact_bytes_rewritten" -> "bytes", "dedup.stages" -> "count",
      "dedup.shuffle_bytes" -> "bytes", "store.files_written" -> "count",
      "trace.overhead_pct" -> "%")

  def metrics(env: Env, spans: Seq[Span], ops: Counts, setup: Counts): Seq[Metric] = {
    // wall time of the calls into `layer.name`, or into every name of `layer.`
    val callMs = spans.groupMapReduce(s => s"${s.layer}.${s.name}")(_.durUs / 1000.0)(_ + _)
    def ms(key: String): Double =
      if (key.endsWith(".")) callMs.collect { case (k, v) if k.startsWith(key) => v }.sum
      else callMs.getOrElse(key, 0.0)
    def cnt(key: String): Counts = env.layerCounts.getOrElse(key, Counts())
    def ex(key: String): Double = env.extra.getOrElse(key, 0.0)
    def m(name: String, v: Double, unit: String) = Metric(name, v, unit)

    val opSelf = Trace.layerSelfUs(spans, "op")
    val opTotal = Trace.phaseUs(spans, "op").toDouble
    val setupSelf = Trace.layerSelfUs(spans, "setup")
    val setupTotal = Trace.phaseUs(spans, "setup").toDouble
    def share(self: Map[String, Long], total: Double, layer: String): Double =
      if (total <= 0) 0.0 else 100.0 * self.getOrElse(layer, 0L) / total
    val root = Trace.roots(spans)
    val jobsUs = Stats.unionLength(spans.filter(s => s.layer == "exec" && s.name.startsWith("job") &&
      root(s.id).layer == "op").map(s => (s.startUs, s.endUs)))

    val shares = Names.flatMap {
      case "store" => Seq(m("store.self_share", share(setupSelf, setupTotal, "store"), "%"),
        m("store.self_ms", setupSelf.getOrElse("store", 0L) / 1000.0, "ms"))
      case l => Seq(m(s"$l.self_share", share(opSelf, opTotal, l), "%"),
        m(s"$l.self_ms", opSelf.getOrElse(l, 0L) / 1000.0, "ms"))
    } ++ Seq(
      m("other.self_share", share(opSelf, opTotal, "op"), "%"),
      m("ops.traced_ms", opTotal / 1000.0, "ms"), m("setup.traced_ms", setupTotal / 1000.0, "ms"))

    val labelsTotal = ex("prune.labels_total")
    val dedup = Seq("dedup.cc", "dedup.keepbest")
    shares ++ Seq(
      m("meta.load_ms", ms("meta.load"), "ms"),
      m("meta.fs_read_ops", cnt("meta.load").fsReadOps, "count"),
      m("meta.fs_bytes_read", cnt("meta.load").fsBytesRead, "bytes"),
      m("prune.ms", ms("prune.queryLabels"), "ms"),
      m("prune.spark_jobs", cnt("prune.queryLabels").jobs, "count"),
      m("prune.labels_total", labelsTotal, "count"),
      m("prune.labels_kept", ex("prune.labels_kept"), "count"),
      m("prune.kept_ratio", if (labelsTotal > 0) Stats.keptRatio(ex("prune.labels_kept").toLong, labelsTotal.toLong) else 0.0, "ratio"),
      m("read_plan.ms", ms("read_plan.readTable"), "ms"),
      m("read_plan.spark_jobs", cnt("read_plan.readTable").jobs, "count"),
      m("catalyst.analysis_ms", ops.analysisMs, "ms"),
      m("catalyst.optimization_ms", ops.optimizationMs, "ms"),
      m("catalyst.planning_ms", ops.planningMs, "ms"),
      m("catalyst.queries", ops.queries, "count"),
      m("exec.ms", jobsUs / 1000.0, "ms"),
      m("exec.jobs", ops.jobs, "count"), m("exec.stages", ops.stages, "count"), m("exec.tasks", ops.tasks, "count"),
      m("exec.task_cpu_ms", ops.taskCpuNs / 1e6, "ms"),
      m("exec.input_bytes", ops.inputBytes, "bytes"), m("exec.input_records", ops.inputRecords, "count"),
      m("exec.shuffle_read_bytes", ops.shuffleReadBytes, "bytes"),
      m("exec.shuffle_write_bytes", ops.shuffleWriteBytes, "bytes"),
      m("exec.spill_bytes", ops.spillBytes, "bytes"), m("exec.gc_ms", ops.gcMs, "ms"),
      m("dsv2.plan_ms", ms("dsv2.plan"), "ms"),
      m("dsv2.files_scanned", ops.dsv2FilesScanned, "count"),
      m("cube.plan_ms", ms("cube.query"), "ms"), m("cube.exec_ms", ms("cube.materialize"), "ms"),
      m("cube.datasets_read", ex("cube.datasets_read"), "count"),
      m("commit.ms", ms("commit.update"), "ms"),
      m("commit.spark_jobs", cnt("commit.update").jobs, "count"),
      m("commit.fs_write_ops", cnt("commit.update").fsWriteOps, "count"),
      m("commit.bytes_written", cnt("commit.update").fsBytesWritten, "bytes"),
      m("commit.metadata_bytes_written", ex("commit.metadata_bytes_written"), "bytes"),
      m("commit.data_files_added", ex("commit.data_files_added"), "count"),
      m("maint.compact_ms", ms("maint.compact"), "ms"),
      m("maint.compact_bytes_rewritten", cnt("maint.compact").fsBytesWritten, "bytes"),
      m("maint.history_ms", ms("maint.history"), "ms"), m("maint.cdf_ms", ms("maint.cdf"), "ms"),
      m("maint.fsck_ms", ms("maint.fsck"), "ms"), m("maint.gc_ms", ms("maint.gc"), "ms"),
      m("maint.versions", ex("maint.versions"), "count"), m("maint.labels", ex("maint.labels"), "count"),
      m("store.ms", ms("store."), "ms"),
      m("store.files_written", ex("store.files_written"), "count"),
      m("store.spark_jobs", setup.jobs, "count"),
      m("dedup.ms", dedup.map(ms).sum, "ms"),
      m("dedup.stages", dedup.map(k => cnt(k).stages).sum, "count"),
      m("dedup.shuffle_bytes", dedup.map(k => cnt(k).shuffleWriteBytes).sum, "bytes"),
      m("dedup.survivors", ex("dedup.survivors"), "count"))
  }
}
