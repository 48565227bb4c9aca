"""Per-layer metrics from a traced run's spans.

Span chain: run → pass → op (query, batch, read or write) → layer call
(`queries.build`, `exec.materialize`, `operators.*`, `sources.*`) →
`spark.job` → `spark.stage`. Each span carries the id of its op.
"""
from collections import defaultdict

from .stats import median


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in µs}: a span's duration minus the part of
    its interval that its children cover (children clipped to it)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_length([(max(lo, c["start_us"]), min(hi, c["end_us"]))
                                for c in kids[s["id"]]
                                if min(hi, c["end_us"]) > max(lo, c["start_us"])])
        out[s["id"]] = (hi - lo) - covered
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs):
    xs = list(xs)
    return median(xs) if xs else 0.0


# (artifact_rw builds its stores once, in the warmup; it reports those
# times itself)
OPERATOR_WRITES = [f"operators.{a}.{w}" for a in ("ann", "text", "nb")
                   for w in ("append", "compact")]
OPERATOR_READS = ["operators.ann.probe", "operators.text.search", "operators.nb.score"]
KV_CALLS = ["sources.kv.merge", "sources.kv.delete", "sources.kv.compact", "sources.kv.scan"]
STREAM_FIELDS = ["trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
                 "latest_offset_ms", "get_batch_ms", "commit_offsets_ms"]
STAGE_SUMS = {"exec.task_s": "task_s", "exec.task_cpu_s": "task_cpu_s",
              "exec.task_gc_s": "task_gc_s", "shuffle.write_mb": "shuffle_write_mb",
              "shuffle.read_mb": "shuffle_read_mb", "shuffle.fetch_wait_s": "fetch_wait_s",
              "spill.memory_mb": "spill_memory_mb", "spill.disk_mb": "spill_disk_mb",
              "scan.input_mb": "input_mb", "scan.input_rows": "input_rows"}


# layers whose use inside a registry query is read off plans and call sites
REACHED_LAYERS = ("operators", "sources")


def ops_using(plans, stages):
    """{op id: set of engine layers its plans or stages reach}, from the
    `uses.<layer>` attributes the tracer records."""
    out = defaultdict(set)
    for s in list(plans) + list(stages):
        out[s["op"]].update(k[len("uses."):] for k in s["attrs"] if k.startswith("uses."))
    return out


def layer_metrics(result, cores):
    """Every per-layer metric of one traced run, as {name: value}."""
    tr = result["traced"]
    spans = tr["trace"]["spans"]
    plans = tr["trace"]["plans"]
    batches = tr["trace"]["batches"]
    byid = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["id"] == s["op"]]
    n_ops = max(1, len(ops))
    sec = 1e-6
    selfs = self_times(spans)
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    jobs = [s for s in spans if s["name"] == "spark.job"]
    stages = [s for s in spans if s["name"] == "spark.stage"]

    def under(span_name):
        """Jobs whose parent is a span named `span_name`."""
        return [j for j in jobs if byid.get(j["parent"], {}).get("name") == span_name]

    def durations(name):
        return [(s["end_us"] - s["start_us"]) * sec for s in spans if s["name"] == name]

    m = {"core.session_s": result["session_s"] + result["register_s"],
         "core.warmup_s": result["warmup_s"]}

    # queries
    m["queries.build_s"] = _med(durations("queries.build"))
    builds = [s for s in spans if s["name"] == "queries.build"]
    m["queries.build_jobs"] = len(under("queries.build")) / len(builds) if builds else 0.0

    # plans: phase seconds per op
    for ph in ("analysis_s", "optimization_s", "planning_s"):
        m[f"plans.{ph}"] = sum(p["attrs"][ph] for p in plans) / n_ops

    # exec: per op
    job_wall, gaps = [], []
    for o in ops:
        iv = [(j["start_us"], j["end_us"]) for j in by_op[o["id"]] if j["name"] == "spark.job"]
        u = union_length(iv)
        job_wall.append(u * sec)
        gaps.append(((o["end_us"] - o["start_us"]) - u) * sec)
    m["exec.jobs"] = len(jobs) / n_ops
    m["exec.stages"] = len(stages) / n_ops
    m["exec.tasks"] = sum(s["attrs"].get("tasks", 0) for s in stages) / n_ops
    m["exec.driver_gap_s"] = _med(gaps)
    m["exec.job_wall_s"] = _mean(job_wall)
    for k, a in STAGE_SUMS.items():
        m[k] = sum(s["attrs"].get(a, 0.0) for s in stages) / n_ops
    wall = sum(job_wall)
    m["exec.slot_util"] = (m["exec.task_s"] * n_ops) / (wall * cores) if wall else 0.0
    multi = [s["attrs"]["skew"] for s in stages if s["attrs"].get("tasks", 0) >= 2 and "skew" in s["attrs"]]
    m["exec.task_skew"] = _mean(multi) if multi else 1.0

    # functions: task CPU of the ops whose executed plan holds a graft
    # native expression
    fn_ops = {p["op"] for p in plans if p["attrs"].get("functions")}
    cpu_by_op = defaultdict(float)
    for s in stages:
        cpu_by_op[s["op"]] += s["attrs"].get("task_cpu_s", 0.0)
    m["functions.task_cpu_s"] = _mean(cpu_by_op[o] for o in fn_ops) if fn_ops else 0.0
    m["functions.ops_share"] = len(fn_ops & {o["id"] for o in ops}) / n_ops

    # operators and sources inside registry queries: the ops whose plans
    # or job call sites reach the layer's package
    uses = ops_using(plans, stages)
    for layer in REACHED_LAYERS:
        hit = [o for o in ops if layer in uses[o["id"]]]
        m[f"{layer}.query_s"] = _med((o["end_us"] - o["start_us"]) * sec for o in hit)
        m[f"{layer}.ops_share"] = len(hit) / n_ops

    # pipeline
    m["pipeline.query_s"] = _med((o["end_us"] - o["start_us"]) * sec for o in ops
                                 if o["name"].startswith("q_pipeline_"))

    # streaming
    drops = [o for o in ops if o["name"].split(".")[-1] in ("data", "flush")]
    real = [b for b in batches if b["rows"] > 0]
    m["streaming.batches"] = len(batches) / len(drops) if drops else 0.0
    m["streaming.rows_per_batch"] = _mean(b["rows"] for b in real)
    m["streaming.jobs_per_batch"] = (len([j for j in jobs if j["op"] in {d["id"] for d in drops}])
                                     / len(batches)) if batches else 0.0
    for f in STREAM_FIELDS:
        m[f"streaming.{f}"] = _med(b[f] for b in batches)
    for f in ("state_rows", "state_mem_mb", "state_rows_evicted"):
        m[f"streaming.{f}"] = _mean(b[f] for b in batches)

    # operators and KV sources: call latency and jobs per call
    for name in OPERATOR_WRITES + OPERATOR_READS + KV_CALLS:
        m[name + "_s"] = _med(durations(name))
    w = [s for s in spans if s["name"] in OPERATOR_WRITES]
    r = [s for s in spans if s["name"] in OPERATOR_READS]
    m["operators.jobs_per_write"] = sum(len(under(n)) for n in OPERATOR_WRITES) / len(w) if w else 0.0
    m["operators.jobs_per_read"] = sum(len(under(n)) for n in OPERATOR_READS) / len(r) if r else 0.0

    # self time per layer, per op
    def self_of(pred):
        return sum(selfs[s["id"]] for s in spans if pred(s["name"])) * sec / n_ops
    m["self.op_s"] = sum(selfs[o["id"]] for o in ops) * sec / n_ops
    m["self.queries.build_s"] = self_of(lambda n: n == "queries.build")
    m["self.exec.materialize_s"] = self_of(lambda n: n == "exec.materialize")
    m["self.operators_s"] = self_of(lambda n: n.startswith("operators."))
    m["self.sources_s"] = self_of(lambda n: n.startswith("sources."))
    m["self.spark.job_s"] = self_of(lambda n: n == "spark.job")

    # figures the workload reports itself (artifact_rw: store bytes, KV
    # planning counters, the builds it runs once in its warmup)
    for k in ("store.files", "operators.members_live", "sources.kv.files_listed",
              "sources.kv.files_planned", "sources.kv.list_walks",
              *[f"operators.{a}.build_s" for a in ("ann", "text", "nb")]):
        m[k] = 0.0
    ls = tr.get("layer_stats", {})
    m.update(ls)
    user = ls.get("store.user_bytes", 0.0)
    m["store.write_amp"] = ls.get("store.written_bytes", 0.0) / user if user else 0.0
    m["store.space_amp"] = ls.get("store.live_bytes", 0.0) / user if user else 0.0

    # jvm
    m["jvm.gc_s"] = tr["gc_s"] / n_ops
    m["jvm.threads"] = float(tr["threads"])
    m["jvm.persistent_rdds"] = float(tr["persistent_rdds"])
    m["jvm.code_cache_mb"] = tr["code_cache_mb"]
    m["jvm.heap_per_pass_mb"] = _med(tr["heap_per_pass_mb"])
    m["jvm.heap_retained_mb"] = result["heap_retained_mb"]
    return m
