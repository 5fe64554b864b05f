"""Names, units and directions of every metric the benchmark prints.
BENCHMARK.json at the repository root lists the same tables."""

# (name, unit, better, bound): bound is the share of the parent's
# median by which the metric may worsen before a change is a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
    ("engine_p50_s", "s", "lower", 0.25),
    ("units_per_min", "1/min", "higher", 0.25),
    ("storage_ratio", "ratio", "lower", 0.1),
    ("heap_peak_mb", "MB", "lower", 0.1),
    ("ok_ratio", "ratio", "higher", 0.01),
]

# Registry entries llm_corpus runs; one set of op.<entry>.* metrics each.
LLM_ENTRIES = ["e11_stream_ingest_dedup", "d02_dedup_minhash",
               "d05_embedding_neardup"]

_LAYER = [
    ("trace_overhead", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.no_job_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.utilization", "ratio", "higher"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.output_bytes", "bytes", "lower"),
    ("spark.planning_ms", "ms", "lower"),
    ("ci.copy_s", "s", "lower"),
    ("ci.copy_jobs", "count", "lower"),
    ("ci.copy_bytes", "bytes", "lower"),
    ("ci.select_ms", "ms", "lower"),
    ("ci.closure_models", "count", "lower"),
    ("ci.clone_tables", "count", "lower"),
    ("core.build_s", "s", "lower"),
    ("core.model_s_sum", "s", "lower"),
    ("core.runner_parallelism", "ratio", "higher"),
    ("core.jobs_per_model", "ratio", "higher"),
    ("core.bytes_written", "bytes", "lower"),
    ("core.files_written", "count", "lower"),
    ("core.manifest_fetch_ms", "ms", "lower"),
    ("core.models_built", "count", "lower"),
    ("core.count_s", "s", "lower"),
    ("stream.fixture_s", "s", "lower"),
    ("stream.microbatches", "count", "lower"),
    ("stream.batch_ms_sum", "ms", "lower"),
    ("stream.query_s", "s", "lower"),
    ("self.bench_s", "s", "lower"),
    ("self.ci_s", "s", "lower"),
    ("self.core_s", "s", "lower"),
    ("self.ops_s", "s", "lower"),
    ("self.stream_s", "s", "lower"),
]

PER_LAYER = _LAYER + [
    (f"op.{e}.{m}", u, "lower") for e in LLM_ENTRIES
    for m, u in (("s", "s"), ("jobs", "count"), ("task_cpu_s", "s"), ("frozen_bytes", "bytes"))]
