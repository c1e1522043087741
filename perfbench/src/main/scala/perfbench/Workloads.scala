package perfbench

/** The benchmark's workloads. Each serve workload is a fixed list of
  * `SparkEntry.queries` names; `dag_refresh` has no queries (its operations
  * are the DAG's models). README.md says why each exists.
  */
object Workloads {

  /** Reference-faithful query families, one or two short queries each, so
    * per-query fixed costs dominate: table resolution, Catalyst, job
    * launch, session-memo lookup. q50 builds one pipeline stage memo (the
    * staged unemployment table) in the cold pass and reads it afterwards.
    */
  val serveMarts: Seq[String] = Seq(
    "q01_pricing_summary",                           // relational
    "q06_rolling_avg", "q19_ols_trend",              // time series
    "q44_sessionize",                                // temporal
    "q50_stg_unemployment",                          // pipeline
    "q91_snapshot_dedup",                            // incremental
    "q65_grouping_sets")                             // olap

  /** Corpus kernels: CPU work in `operators`/`graftx` (language scoring,
    * winnowing fingerprints, covariance moment terms) and an iterative
    * query that launches jobs round after round (star contraction). Each
    * kernel's warm time varies by up to a fifth from one JVM to the next;
    * four distinct kernels average much of that out of a pass.
    */
  val serveCorpus: Seq[String] = Seq(
    "q150_lang_mixing", "q87_winnow_fingerprint", "q119_covariance",
    "q149_cc_star_contraction")

  /** Warm passes a run makes at least (`--seconds` can ask for more). The
    * count is fixed, not timed: the JIT keeps speeding passes up, so the
    * median warm pass is comparable across runs only at a fixed count.
    */
  def warmPasses(workload: String): Int = workload match {
    case "serve_marts" => 4
    case "serve_corpus" => 3
    case _ => 2
  }

  val names: Seq[String] = Seq("serve_marts", "serve_corpus", "dag_refresh")

  def ops(workload: String): Seq[String] = workload match {
    case "serve_marts" => serveMarts
    case "serve_corpus" => serveCorpus
    case _ => Nil
  }

  /** Every per-layer metric a traced run reports (BENCHMARK.json lists the
    * same names); layers a workload does not reach read 0.
    */
  val perLayer: Seq[String] = Seq(
    "tables.resolve_ms", "tables.resolve_jobs",
    "construct_ms", "construct_jobs", "memo_build_ms",
    "analysis_ms", "optimization_ms", "planning_ms",
    "exec_ms", "op_ms", "jobs", "stages", "tasks", "single_task_jobs",
    "task_run_ms", "task_cpu_ms", "core_util", "gc_ms",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "input_bytes",
    "full_refresh_s", "incremental_s", "dag.jobs", "dag.rows_written",
    "staging_ms", "intermediate_ms", "marts_ms", "analytics_ms",
    "bytes_written", "files_written", "write_amp",
    "setup_first_s", "trace_overhead_s")
}
