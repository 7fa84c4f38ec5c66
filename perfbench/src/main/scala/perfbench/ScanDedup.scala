package perfbench

/** Execution-bound work over few large labels: filtered group-by scans
  * through the DSv2 source, cube queries with conditions and payload, and
  * MinHash near-duplicate curation of a stored corpus with planted clusters
  * (connected components, then keep-best). Scan, shuffle and join execution
  * dominate; pruning and metadata cost almost nothing.
  */
final class ScanDedup(factRows: Int, labels: Int, cubeRows: Int, docs: Int, clusters: Int, seed: Long)
    extends Workload {

  val name = "scan_dedup"
  val headline = "scan"
  /** 16 scans and 8 cube queries, interleaved, then one deduplication of
    * each kind.
    */
  val block: Seq[String] = Seq.fill(8)(Seq("scan", "cube", "scan")).flatten ++ Seq("cc", "keepbest")
  private val facts = new ScanAggregate(factRows, labels, cubeRows, seed)
  private val corpus = new Neardup(docs, clusters, seed)

  def setup(env: Env, dir: String): Unit = {
    facts.setup(env, dir)
    corpus.setup(env, dir)
  }

  /** One operation of each kind, from step numbers the timed stream never
    * uses.
    */
  def warmup(env: Env): Unit =
    block.distinct.zipWithIndex.foreach { case (k, i) => step(env, 1000000 + i, k) }

  def op(env: Env, i: Int): Seq[Outcome] = Seq(step(env, i, block(i % block.size)))

  private def step(env: Env, i: Int, kind: String): Outcome = kind match {
    case "scan" => facts.scan(env, i)
    case "cube" => facts.cubeQuery(env, i)
    case k => corpus.dedup(env, i, k)
  }

  def details(outcomes: Seq[Outcome]): Seq[Metric] = {
    val scans = outcomes.filter(_.kind == "scan")
    val dedups = outcomes.filter(o => o.kind == "cc" || o.kind == "keepbest")
    Seq(Metric("scan_rows_per_s", scans.map(_.units).sum / (scans.map(_.ms).sum / 1000.0), "1/s"),
      Metric("scan_p50_ms", Workload.p50(outcomes, "scan"), "ms")) ++
      Workload.tail(outcomes, "scan", "scan") ++ Seq(
      Metric("cube_query_p50_ms", Workload.p50(outcomes, "cube"), "ms"),
      Metric("dedup_docs_per_s", dedups.map(_.units).sum / (dedups.map(_.ms).sum / 1000.0), "1/s"),
      Metric("cc_p50_ms", Workload.p50(outcomes, "cc"), "ms"),
      Metric("keepbest_p50_ms", Workload.p50(outcomes, "keepbest"), "ms"),
      Metric("fact_rows", factRows.toDouble, "count"),
      Metric("fact_labels", labels.toDouble, "count"),
      Metric("cube_seed_rows", cubeRows.toDouble, "count"),
      Metric("corpus_docs", docs.toDouble, "count"),
      Metric("planted_clusters", clusters.toDouble, "count"))
  }
}
