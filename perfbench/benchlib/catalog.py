"""Every metric the benchmark reports: name, unit, which way is better,
the layer it belongs to and, for per-layer metrics, the end-to-end
metric and workload it is expected to move. BENCHMARK.json lists the
same names and units (a test keeps the two in step)."""

# The workloads BENCHMARK.json lists, in its order.
LISTED_WORKLOADS = ("short_queries", "stream_drip")

WORKLOADS = {
    "short_queries": "sub-second registry queries at sf0.1: per-action fixed cost (build, planning, "
                     "driver gap) dominates, so an optimization of the per-action floor must show here",
    "heavy_queries": "compute- and shuffle-bound queries and typed MR pipelines at sf0.1: tasks, "
                     "shuffle and native kernels dominate; a floor optimization should not move it",
    "stream_drip": "seeded events drops through watermarked EventStreams transforms: the only "
                   "workload on the streaming layer (planning, WAL, state store, eviction)",
    "artifact_rw": "ANN/BM25/NB artifacts and a KV store: many reads between appends, compactions "
                   "and vacuums, so a write-cheaper/read-slower trade shows",
}

# Primary op of each workload: the op whose latency is op_p50_s/op_tail_s.
PRIMARY = {"short_queries": "query", "heavy_queries": "query",
           "stream_drip": "batch", "artifact_rw": "read"}

# (name, unit, better, bound, meaning)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "process start to first timed op: JVM, session, extension registration, untimed warmup pass"),
    ("op_p50_s", "s", "lower", 0.25,
     "median latency of the primary op, as the median over op kinds of each kind's median "
     "(each query, or transform and drop kind, weighs the same): query_p50_s (queries), "
     "batch_p50_s (stream_drip), read_p50_s (artifact_rw)"),
    ("op_tail_s", "s", "lower", 0.25,
     "tail latency of the primary op (highest percentile with >= 10 samples beyond, "
     "Harrell-Davis estimate): "
     "query_tail_s, batch_tail_s, read_tail_s"),
    ("throughput_per_s", "1/s", "higher", 0.25,
     "queries_per_s (queries), events_per_s (stream_drip), ops_per_s = reads + writes "
     "(artifact_rw), per second of op time"),
]

# Workload-specific names of the primary-op metrics, printed in the summary line.
NAMED = {
    "short_queries": {"op_p50_s": "query_p50_s", "op_tail_s": "query_tail_s",
                      "throughput_per_s": "queries_per_s"},
    "heavy_queries": {"op_p50_s": "query_p50_s", "op_tail_s": "query_tail_s",
                      "throughput_per_s": "queries_per_s"},
    "stream_drip": {"op_p50_s": "batch_p50_s", "op_tail_s": "batch_tail_s",
                    "throughput_per_s": "events_per_s"},
    "artifact_rw": {"op_p50_s": "read_p50_s", "op_tail_s": "read_tail_s",
                    "throughput_per_s": "ops_per_s"},
}

SQ, HQ, SD, AR = "short_queries", "heavy_queries", "stream_drip", "artifact_rw"

# (name, unit, better, layer, moves: "end-to-end metric on workload")
PER_LAYER = [
    ("core.session_s", "s", "lower", "core", f"setup_s on all"),
    ("core.warmup_s", "s", "lower", "core", f"setup_s on all"),
    ("queries.build_s", "s", "lower", "queries", f"op_p50_s on {SQ}"),
    ("queries.build_jobs", "count", "lower", "queries", f"op_p50_s on {SQ}"),
    ("plans.analysis_s", "s", "lower", "plans", f"op_p50_s on {SQ}"),
    ("plans.optimization_s", "s", "lower", "plans", f"op_p50_s on {SQ}"),
    ("plans.planning_s", "s", "lower", "plans", f"op_p50_s on {SQ}"),
    ("exec.jobs", "count", "lower", "exec", f"op_p50_s on {SQ} and {SD}"),
    ("exec.stages", "count", "lower", "exec", f"op_p50_s on {SQ} and {SD}"),
    ("exec.tasks", "count", "lower", "exec", f"op_p50_s on {SQ} and {SD}"),
    ("exec.driver_gap_s", "s", "lower", "exec", f"op_p50_s on {SQ} and {SD}"),
    ("exec.job_wall_s", "s", "lower", "exec", f"throughput_per_s on {SQ} (and {HQ})"),
    ("exec.task_s", "s", "lower", "exec", f"throughput_per_s on {SQ} (and {HQ})"),
    ("exec.task_cpu_s", "s", "lower", "exec", f"throughput_per_s on {SQ} (and {HQ})"),
    ("exec.task_gc_s", "s", "lower", "exec", f"throughput_per_s on {SQ} (and {HQ})"),
    ("exec.slot_util", "ratio", "higher", "exec", f"throughput_per_s on {SQ} (and {HQ})"),
    ("exec.task_skew", "ratio", "lower", "exec", f"op_tail_s on {SQ} (and {HQ})"),
    ("shuffle.write_mb", "MB", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("shuffle.read_mb", "MB", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("shuffle.fetch_wait_s", "s", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("spill.memory_mb", "MB", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("spill.disk_mb", "MB", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("scan.input_mb", "MB", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("scan.input_rows", "rows", "lower", "shuffle", f"throughput_per_s on {SQ} (and {HQ})"),
    ("functions.task_cpu_s", "s", "lower", "functions", f"throughput_per_s on {SQ} (and {HQ})"),
    ("functions.ops_share", "ratio", "higher", "functions", f"throughput_per_s on {SQ} (and {HQ})"),
    ("operators.query_s", "s", "lower", "operators",
     f"op_p50_s on {SQ} (median latency of the queries whose plans or job call sites reach "
     "graft.operators)"),
    ("operators.ops_share", "ratio", "higher", "operators", f"op_p50_s on {SQ}"),
    ("sources.query_s", "s", "lower", "sources",
     f"op_p50_s on {SQ} (median latency of the queries whose plans or job call sites reach "
     "graft.sources)"),
    ("sources.ops_share", "ratio", "higher", "sources", f"op_p50_s on {SQ}"),
    ("pipeline.query_s", "s", "lower", "pipeline", f"op_p50_s on {SQ}"),
    ("streaming.batches", "count", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.rows_per_batch", "rows", "higher", "streaming", f"op_p50_s on {SD}"),
    ("streaming.jobs_per_batch", "count", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.batch_fixed_s", "s", "lower", "streaming",
     f"op_p50_s on {SD} (intercept of batch latency against drop rows: the per-trigger cost)"),
    ("streaming.batch_s_per_krow", "s", "lower", "streaming",
     f"throughput_per_s on {SD} (slope of batch latency against drop rows, per 1000 rows)"),
    ("streaming.trigger_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.add_batch_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.query_planning_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.wal_commit_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.latest_offset_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.get_batch_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.commit_offsets_ms", "ms", "lower", "streaming", f"op_p50_s on {SD}"),
    ("streaming.state_rows", "rows", "lower", "streaming", f"op_tail_s and jvm.heap_retained_mb on {SD}"),
    ("streaming.state_mem_mb", "MB", "lower", "streaming", f"op_tail_s and jvm.heap_retained_mb on {SD}"),
    ("streaming.state_rows_evicted", "rows", "higher", "streaming", f"jvm.heap_retained_mb on {SD}"),
    ("self.op_s", "s", "lower", "harness", "op_p50_s on all (time in the op outside any layer call)"),
    ("self.queries.build_s", "s", "lower", "queries", f"op_p50_s on {SQ}"),
    ("self.exec.materialize_s", "s", "lower", "exec", f"op_p50_s on {SQ}"),
    ("self.spark.job_s", "s", "lower", "exec", f"op_p50_s on {SQ}"),
    ("jvm.gc_s", "s", "lower", "jvm", "jvm.heap_retained_mb and op_tail_s on all"),
    ("jvm.threads", "count", "lower", "jvm", "jvm.heap_retained_mb on all"),
    ("jvm.persistent_rdds", "count", "lower", "jvm", "jvm.heap_retained_mb on all"),
    ("jvm.code_cache_mb", "MB", "lower", "jvm", "jvm.heap_retained_mb on all"),
    ("jvm.heap_per_pass_mb", "MB", "lower", "jvm", "jvm.heap_retained_mb on all"),
    ("jvm.heap_retained_mb", "MB", "lower", "jvm",
     "heap in use after a full GC at the end of the untimed half (per-layer, not end-to-end, "
     "because it did not repeat within a tenth)"),
    ("op.failed_ratio", "ratio", "lower", "harness", "failed or mismatched ops / attempted ops"),
    ("trace.overhead", "ratio", "lower", "harness",
     "traced / untraced median primary-op latency - 1, within one traced run"),
]

# Per-layer metrics of the layers only artifact_rw exercises; reported by
# its traced runs, not part of BENCHMARK.json.
EXTRA_LAYER = [
    *[(f"operators.{a}.build_s", "s", "lower", "operators",
       f"setup_s on {AR} (built once per run, in the warmup)") for a in ("ann", "text", "nb")],
    *[(f"operators.{a}.{w}_s", "s", "lower", "operators", f"op.write_p50_s on {AR}")
      for a in ("ann", "text", "nb") for w in ("append", "compact")],
    ("operators.jobs_per_write", "count", "lower", "operators", f"op.write_p50_s on {AR}"),
    ("operators.ann.probe_s", "s", "lower", "operators", f"op_p50_s and op_tail_s on {AR}"),
    ("operators.text.search_s", "s", "lower", "operators", f"op_p50_s and op_tail_s on {AR}"),
    ("operators.nb.score_s", "s", "lower", "operators", f"op_p50_s and op_tail_s on {AR}"),
    ("operators.jobs_per_read", "count", "lower", "operators", f"op_p50_s and op_tail_s on {AR}"),
    ("operators.members_live", "count", "lower", "operators", f"op_p50_s and op_tail_s on {AR}"),
    ("sources.kv.merge_s", "s", "lower", "sources", f"op.write_p50_s on {AR}"),
    ("sources.kv.delete_s", "s", "lower", "sources", f"op.write_p50_s on {AR}"),
    ("sources.kv.compact_s", "s", "lower", "sources", f"op.write_p50_s on {AR}"),
    ("sources.kv.scan_s", "s", "lower", "sources", f"op_p50_s on {AR}"),
    ("sources.kv.files_listed", "count", "lower", "sources", f"op_p50_s on {AR}"),
    ("sources.kv.files_planned", "count", "lower", "sources", f"op_p50_s on {AR}"),
    ("sources.kv.list_walks", "count", "lower", "sources", f"op_p50_s on {AR}"),
    ("store.write_amp", "ratio", "lower", "sources", f"op.write_p50_s on {AR}"),
    ("store.space_amp", "ratio", "lower", "sources", f"op_p50_s on {AR}"),
    ("store.files", "count", "lower", "sources", f"op_p50_s on {AR}"),
    ("self.operators_s", "s", "lower", "operators", f"op_p50_s on {AR}"),
    ("self.sources_s", "s", "lower", "sources", f"op_p50_s on {AR}"),
    ("op.write_p50_s", "s", "lower", "operators", f"median write latency on {AR} (untraced half)"),
]
