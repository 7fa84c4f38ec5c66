package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a run prints and writes: detail lines, the gated metrics of the JSON
  * result line, and the sidecar tree.
  */
final case class Result(lines: Seq[String], metrics: Seq[(String, Double, String)],
    attempted: Long, failed: Long, sidecar: Map[String, Any])

object Runner {

  /** Gated end-to-end metrics, reported by every workload (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  private def line(m: Metric): String = s"metric ${m.name} = ${Json.num(m.value)} ${m.unit}"

  def untraced(spark: SparkSession, args: Main.Args, dataRoot: String, cores: Int): Result = {
    val setupS = ArrayBuffer.empty[Double]
    var w: Workload = null
    var env: Env = null
    (0 until Main.SetupRepeats).foreach { k =>
      if (k > 0) Main.deleteTree(new java.io.File(s"$dataRoot/s${k - 1}"))
      w = Main.workload(args.workload, args.seed)
      env = new Env(spark, new Tracer(false), None)
      val t0 = System.nanoTime()
      w.setup(env, s"$dataRoot/s$k")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup(env)
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(s"perfbench: set-up ${setupS.mkString(", ")} s, warm-up $warmupS s")
    val outs = ArrayBuffer.empty[Outcome]
    var i = 0
    def opMs = outs.map(_.ms).sum
    do {
      w.block.indices.foreach { _ => outs ++= attempt(w, env, i); i += 1 }
    } while (opMs < args.seconds * 1000.0)
    val f0 = System.nanoTime()
    val fin = w.finish(env)
    System.err.println(s"perfbench: ${outs.size} operations in ${opMs / 1000} s, finish ${(System.nanoTime() - f0) / 1e9} s")
    val head = outs.filter(_.kind == w.headline).toSeq
    val gated = Seq(
      Metric("setup_s", Stats.median(setupS.toSeq), "s"),
      Metric("op_p50_ms", Stats.median(head.map(_.ms)), "ms"),
      Metric("ops_per_s", outs.size / (opMs / 1000.0), "1/s"))
    val details = w.details((outs ++ fin).toSeq) ++ Seq(
      // process CPU time of the headline operation: next to op_p50_ms, it
      // tells time the host did not run the process from work
      Metric("op_cpu_p50_ms", Stats.median(head.map(_.cpuMs)), "ms"),
      Metric("ops_failed_ratio", Stats.ratio(env.failures.size.toDouble, env.checks.toDouble), "ratio"),
      Metric("ops_timed", outs.size.toDouble, "count"),
      Metric("warmup_s", warmupS, "s"),
      Metric("cores", cores.toDouble, "count"))
    val tailNote = Stats.tail(head.map(_.ms)) match {
      case Some(t) => s"${w.headline} tail is p${Json.fixed(t.percentile, 2)} of ${t.samples} samples (${t.beyond} beyond it)"
      case None => s"${w.headline} has ${head.size} samples, too few for a tail with 10 beyond it"
    }
    Result(
      lines = (gated ++ details).map(line) ++ Seq(s"note $tailNote") ++ env.failures.map(f => s"FAILED $f"),
      metrics = gated.map(m => (m.name, m.value, m.unit)),
      attempted = env.checks, failed = env.failures.size,
      sidecar = Map(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> false,
        "clients" -> 1, "master" -> s"local[$cores]",
        "setup_s_samples" -> setupS.toSeq,
        "metrics" -> (gated ++ details).map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit)),
        "tail" -> tailNote,
        "ops" -> outs.toSeq.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "ok" -> o.ok, "units" -> o.units)),
        "failures" -> env.failures.toSeq))
  }

  def traced(spark: SparkSession, args: Main.Args, dataRoot: String, cores: Int): Result = {
    val probe = new Probe(spark)
    val tracer = new Tracer(true)
    val w = Main.workload(args.workload, args.seed)
    val env = new Env(spark, tracer, Some(probe))
    val plain = new Env(spark, new Tracer(false), None)

    val setupStart = probe.counts()
    probe.takeIntervals()
    tracer.operation("setup", "setup", -1)(w.setup(env, s"$dataRoot/s0"))
    attach(probe, tracer, -1)
    val setupCounts = probe.counts() - setupStart
    w.warmup(plain)

    // untraced, then traced: the untraced pass also finishes warming the
    // JVM, so the overhead reads low rather than high
    val n = w.block.size
    val plainOuts = (0 until n).flatMap(i => attempt(w, plain, i))
    val (c0, o0) = (probe.counts(), env.oracleCounts)
    probe.takeIntervals()
    val tracedOuts = (n until 2 * n).flatMap { i => val o = attempt(w, env, i); attach(probe, tracer, i); o }
    val ops = probe.counts() - c0
    val f0 = probe.counts()
    probe.takeIntervals()
    val fin = tracer.operation("op", "finish", 2 * n)(w.finish(env))
    attach(probe, tracer, 2 * n)
    // the traced block and finish, without the oracles' own reads
    val opsAndFinish = ops + (probe.counts() - f0) - (env.oracleCounts - o0)
    val failures = plain.failures ++ env.failures

    val spans = tracer.all
    val layers = Layers.metrics(env, spans, opsAndFinish, setupCounts)
    val plainMs = plainOuts.map(_.ms).sum
    val tracedMs = tracedOuts.map(_.ms).sum
    val overhead = Seq(
      Metric("trace.untraced_ms", plainMs, "ms"),
      Metric("trace.traced_ms", tracedMs, "ms"),
      Metric("trace.overhead_pct", 100.0 * (tracedMs - plainMs) / plainMs, "%"))
    val all = layers ++ overhead
    val gated = Layers.PerLayer.map { case (name, unit) =>
      (name, all.find(_.name == name).map(_.value).getOrElse(0.0), unit)
    }
    Result(
      lines = all.map(line) ++ failures.map(f => s"FAILED $f"),
      metrics = gated,
      attempted = env.checks + plain.checks, failed = failures.size,
      sidecar = Map(
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> true,
        "clients" -> 1, "master" -> s"local[$cores]", "traced_steps" -> n,
        "metrics" -> all.map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit)),
        "finish_ops" -> fin.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok)),
        "failures" -> failures.toSeq,
        "spans" -> spans.map(s => Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent, "op" -> s.op))))
  }

  /** One step; an exception is a failed operation, and the loop goes on. */
  private def attempt(w: Workload, env: Env, i: Int): Seq[Outcome] = {
    val (t0, c0) = (System.nanoTime(), Took.cpuNs)
    try w.op(env, i)
    catch {
      case e: Exception =>
        env.check(ok = false, s"${w.name} step $i threw $e")
        Seq(Outcome("error", Took((System.nanoTime() - t0) / 1e6, (Took.cpuNs - c0) / 1e6), ok = false))
    }
  }

  private def attach(probe: Probe, tracer: Tracer, opId: Int): Unit =
    probe.takeIntervals().foreach { case (layer, name, s, e) => tracer.attach(layer, name, s, e, opId) }
}
