"""Arithmetic over one harness record: end-to-end and per-layer metrics.

Everything here is pure (no Spark, no files) so `selftest.py` can check it.
Times in the raw record are milliseconds on one monotonic axis (spans) or
seconds (per-query fields); outputs are seconds, MB and counts.
"""
import math

MB = 1048576.0

MODULES = ["Aggregations", "EtlOps", "Filters", "Flagships", "Joins",
           "Multimodal", "ScalarFns", "SetOps", "Sources", "Streaming",
           "TextOps", "TypedOps", "VectorOps", "Windows"]
SHARED = ["TextOps", "VectorOps", "Flagships", "Windows"]


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it. p90 of ten values is the 9th smallest."""
    if not values:
        raise ValueError("percentile of an empty sample")
    v = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(v)))
    return v[k - 1]


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of an empty sample")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def check_outputs(queries, goldens, unstable=()):
    """Returns (name, reason) for every query execution that threw, has no
    golden, whose fingerprint (for a name in `unstable`: row count) differs
    from its golden, or whose Parquet read-back differs from what the
    write observed. An empty list means every output is correct."""
    failures = []
    for q in queries:
        name = q["name"]
        want = goldens.get(name)
        got = q["fp"]
        if want is not None and name in unstable:
            got, want = got.split(":")[0], want.split(":")[0]
        rb = q.get("readback")
        if not q["ok"]:
            failures.append((name, "threw: " + q.get("error", "")))
        elif want is None:
            failures.append((name, "no golden fingerprint"))
        elif got != want:
            failures.append((name, f"fingerprint {got} != golden {want}"))
        elif rb is not None and rb != q["fp"]:
            failures.append((name, f"read-back {rb} != written {q['fp']}"))
    return failures


def _medians(rec, value):
    """Per query name, the median of `value` over the warm rounds: every
    round but the first, which warms the JVM up (a run of one round, as
    `--full` makes, has only that one)."""
    first = 1 if rec["rounds"] > 1 else 0
    by_name = {}
    for q in rec["queries"]:
        if q["round"] >= first:
            by_name.setdefault(q["name"], []).append(value(q))
    return {name: median(v) for name, v in by_name.items()}


def query_latencies(rec):
    """Latency (s) of each query, from the `SparkEntry.queries` call to the
    return of the write: the median over the warm rounds."""
    return _medians(rec, lambda q: q["construct_s"] + q["action_s"])


def query_cpu(rec):
    """CPU time (s) of the JVM's Java threads during each query: the median
    over the warm rounds."""
    return _medians(rec, lambda q: q["cpu_s"])


def first_round_s(rec):
    """Wall time of the first (cold) round's queries."""
    return sum(q["construct_s"] + q["action_s"] for q in rec["queries"] if q["round"] == 0)


# the end-to-end metrics BENCHMARK.json bounds; the rest are diagnostics
GATED = ("setup_s", "batch_cpu_s", "live_heap_mb")


def end_to_end(rec, launch_epoch_s):
    """The user-visible metrics of one run, as (value, unit). Set-up runs
    from the JVM's launch to "ready": session, table loads and shared
    stages. The batch is the query list once, each query at its median over
    the warm rounds. The heap figure is the live set at "ready"."""
    setup = rec["ready_epoch_ms"] / 1e3 - launch_epoch_s
    batch = sum(query_latencies(rec).values())
    return {
        "setup_s": (setup, "s"),
        "batch_s": (batch, "s"),
        "batch_cpu_s": (sum(query_cpu(rec).values()), "s"),
        "live_heap_mb": (rec["live_ready_mb"], "MB"),
    }


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals (clipped to the span), in ms, keyed by span id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in kids.get(s["id"], []) if c["id"] != s["id"])
        covered = _union_len(ivs)
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def _union_len(ivs):
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(ivs):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def idle_ms(span, busy):
    """Time inside `span` not covered by any of the `busy` intervals (Spark
    jobs, planning), in ms."""
    lo, hi = span["start_ms"], span["end_ms"]
    ivs = [(max(lo, j["start_ms"]), min(hi, j["end_ms"])) for j in busy]
    return max(0.0, (hi - lo) - _union_len(ivs))


def per_layer(rec):
    """Per-layer figures of one traced run, named after the engine's
    modules and layers. Set-up figures (`Tables.*`, `Shared.*`) are for the
    one set-up; batch figures are per round (totals over all rounds divided
    by their number). Modules and shared stages a workload does not use
    report 0."""
    spans = rec["spans"]
    jobs_of = {}
    for j in rec["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)
    stage_by_job = {}
    for st in rec["stages"]:
        stage_by_job.setdefault(st["job"], []).append(st)

    def stages_of(span_list):
        return [st for s in span_list for j in jobs_of.get(s["id"], [])
                for st in stage_by_job.get(j["id"], [])]

    def njobs(span_list):
        return sum(len(jobs_of.get(s["id"], [])) for s in span_list)

    def secs(span_list):
        return sum(s["end_ms"] - s["start_ms"] for s in span_list) / 1e3

    queries = {s["id"]: s for s in spans if s["kind"] == "query"}
    steps = [s for s in spans if s["parent"] in queries]
    cons = [s for s in steps if s["kind"] == "construct"]
    acts = [s for s in steps if s["kind"] == "action"]
    # the planning a write does, nested in its action span
    plans_of = {}
    for s in spans:
        if s["kind"] == "plan":
            plans_of.setdefault(s["parent"], []).append(s)

    def exec_s(action):
        """An action's time after its planning: execution and the sink."""
        return secs([action]) - secs(plans_of.get(action["id"], []))

    m = {}
    loads = [s for s in spans if s["kind"] == "load"]
    m["Tables.load_s"] = secs(loads)
    m["Tables.load_jobs"] = njobs(loads)

    m["SparkEntry.construct_s"] = secs(cons)
    m["SparkEntry.construct_jobs"] = njobs(cons)
    m["SparkEntry.eager_queries"] = sum(1 for s in cons if jobs_of.get(s["id"]))
    m["Catalyst.plan_s"] = sum(secs(plans_of.get(a["id"], [])) for a in acts)

    batch_stages = stages_of(steps)
    m["Scheduler.jobs"] = njobs(steps)
    m["Scheduler.stages"] = len(batch_stages)
    m["Scheduler.tasks"] = sum(st["tasks"] for st in batch_stages)
    m["Scheduler.idle_s"] = sum(
        idle_ms(a, jobs_of.get(a["id"], []) + plans_of.get(a["id"], [])) for a in acts) / 1e3
    m["Scheduler.one_task_stage_frac"] = (
        sum(1 for st in batch_stages if st["tasks"] == 1) / len(batch_stages)
        if batch_stages else 0.0)

    act_stages = stages_of(acts)
    action_s = sum(exec_s(a) for a in acts)
    task_s = sum(st["run_ms"] for st in act_stages) / 1e3
    m["Executor.action_s"] = action_s
    m["Executor.task_s"] = task_s
    m["Executor.cpu_s"] = sum(st["cpu_ns"] for st in act_stages) / 1e9
    m["Executor.gc_s"] = sum(st["gc_ms"] for st in act_stages) / 1e3
    m["Executor.core_util"] = task_s / (action_s * rec["cores"]) if action_s else 0.0
    m["Executor.input_rows"] = sum(st["in_rows"] for st in act_stages)
    m["Executor.shuffle_write_mb"] = sum(st["sw_bytes"] for st in act_stages) / MB
    m["Executor.shuffle_read_mb"] = sum(st["sr_bytes"] for st in act_stages) / MB
    m["Executor.spill_mb"] = sum(st["spill_bytes"] for st in act_stages) / MB

    m["Sink.files"] = rec["sink_files"]
    m["Sink.mb"] = rec["sink_mb"]

    shared_s = {x["module"]: x["s"] for x in rec["shared"]}
    for mod in SHARED:
        m[f"Shared.{mod}_s"] = shared_s.get(mod, 0.0)
    m["Shared.cached_mb"] = rec["cached_mb"]
    m["Shared.warehouse_mb"] = rec["warehouse_mb"]

    # per module: construction and execution time, and jobs, of its queries
    mod_of = {q["name"]: q["module"] for q in rec["queries"]}
    per_mod = {mod: [0.0, 0.0, 0] for mod in MODULES}
    for s in steps:
        mod = mod_of.get(queries[s["parent"]]["name"])
        if mod not in per_mod:
            continue
        if s["kind"] == "construct":
            per_mod[mod][0] += secs([s])
        elif s["kind"] == "action":
            per_mod[mod][1] += exec_s(s)
        per_mod[mod][2] += len(jobs_of.get(s["id"], []))
    for mod, (c, e, j) in per_mod.items():
        m[f"{mod}.construct_s"] = c
        m[f"{mod}.exec_s"] = e
        m[f"{mod}.jobs"] = j
    rounds = rec["rounds"]
    for k in m:
        if not k.startswith(("Tables.", "Shared.")) and k not in PER_RUN:
            m[k] /= rounds
    return m


# batch figures that are ratios, not totals: not divided by the rounds
PER_RUN = {"Scheduler.one_task_stage_frac", "Executor.core_util"}


LAYER_UNITS = {"_s": "s", "_mb": "MB", ".mb": "MB", "_frac": "fraction",
               "core_util": "fraction"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"

