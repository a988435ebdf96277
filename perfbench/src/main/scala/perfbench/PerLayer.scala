package perfbench

/** Every per-layer metric a traced run prints, in order, with its unit.
  * A workload that does not exercise a layer reports 0 for it. */
object PerLayer {
  private val writes = DmlCdc.Writes
  private val reads = DmlCdc.Reads
  private val llmSteps = LlmCuration.Steps ++ Seq("cosine", "lsh")

  val Names: Seq[(String, String)] =
    // op-kind latencies: op.* pools the kinds named in BENCHMARK.json
    Seq("append", "select", "merge", "lookup").flatMap(k => Seq(
      s"$k.p50_ms" -> "ms", s"$k.tail_ms" -> "ms", s"$k.tail_pct" -> "pct", s"$k.n" -> "count")) ++
    Seq("delete", "update", "optimize", "travel").map(k => s"$k.p50_ms" -> "ms") ++
    Seq("curation_pass_s" -> "s", "op.p50_ms" -> "ms", "op.tail_ms" -> "ms", "op.tail_pct" -> "pct", "op.n" -> "count") ++
    // catalog + Catalyst
    Seq("catalog.analyze_ms" -> "ms") ++
    ("select" +: reads).flatMap(k => Seq(s"spark.plan_ms.$k" -> "ms", s"spark.execute_ms.$k" -> "ms")) ++
    reads.map(k => s"spark.scan_nodes.$k" -> "count") ++
    // kernel: log, prune, commit
    Seq("kernel.log.open_ms" -> "ms", "kernel.log.refresh_ms" -> "ms",
      "kernel.log.append_ckpt_ms" -> "ms", "kernel.log.append_plain_ms" -> "ms",
      "kernel.log.commits" -> "count", "kernel.log.checkpoints" -> "count", "kernel.log.json_bytes" -> "bytes",
      "kernel.prune_ms" -> "ms", "kernel.prune.kept_ratio" -> "ratio", "kernel.prune.useful_ratio" -> "ratio") ++
    ("append" +: writes).map(o => s"kernel.commit.json_bytes.$o" -> "bytes") ++
    // table writes and ops
    ("append" +: writes).flatMap(o => Seq(s"table.write.files_added.$o" -> "count",
      s"table.write.bytes_added.$o" -> "bytes")) ++
    Seq("table.live_files" -> "count") ++
    writes.map(o => s"ops.files_touched_ratio.$o" -> "ratio") ++
    writes.filter(_ != "optimize").map(o => s"ops.rows_rewritten_per_row_changed.$o" -> "ratio") ++
    writes.map(o => s"ops.program_ms.$o" -> "ms") ++
    // llm operators
    llmSteps.flatMap(s => Seq(s"llm.${s}_ms" -> "ms", s"llm.$s.rows_out" -> "count",
      s"spark.plan_ms.llm.$s" -> "ms", s"spark.scan_nodes.llm.$s" -> "count")) ++
    // the ingest mix relative to the catalog cache
    Seq("select.after_append_ratio" -> "ratio", "select.beyond_cache_ratio" -> "ratio") ++
    // host, JVM and the tracer itself
    Seq("jvm.gc_ms" -> "ms", "jvm.cpu_per_wall" -> "ratio", "host.loadavg_before" -> "load",
      "host.loadavg_after" -> "load", "host.steal_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio", "trace.e2e_gap_ratio" -> "ratio")
}
