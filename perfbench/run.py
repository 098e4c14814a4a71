"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (see
`build.py`), generates the workload's input tables (`gen_data.py`), then
launches the harness JVM on `local[4]` with a fresh warehouse, temp dir
and Spark local dir under `.bench_build/runs/`, all deleted afterwards.

After set-up the harness passes over the workload's query list in rounds:
at least MIN_ROUNDS, and more while `--seconds` have not passed since the
first. The first round warms the JVM up; each query counts at its median
over the other rounds.

The seed only permutes the order in which the workload's queries run
(the same order in every round); the inputs are the same tables for every
seed. Every execution's output is checked against its query's golden
fingerprint (`goldens.json`).

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (and writes its spans to `.bench_build/traces/`).
The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. The exit code is 1 when
any query fails or mismatches its golden.

Extra options (for maintaining the benchmark, not for timing):
`--full` runs every query of the workload once, in one round (in name
order, with the workload's extra shared stages) instead of its timed list;
`--record-goldens` adds the observed fingerprints to `goldens.json`
before checking.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170
# a timed run passes over its list at least MIN_ROUNDS times and goes on
# while --seconds have not passed; the first round warms the JVM up and
# each query counts at its median over the other (warm) rounds
MIN_ROUNDS = 3
FULL_TIMEOUT_S = 900
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


def steal_s():
    """Cumulative hypervisor steal (s) from /proc/stat; 0 where absent."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return float(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def data_dir(sf):
    """Generated inputs for a scale factor, cached per generator version."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", f"sf{sf}-{tag}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        gen_data.write(tmp, sf)
        os.replace(tmp, d)
    return d


def launch(cp, run_dir, plan_lines, deadline, scratch_writes=False):
    """Runs the harness JVM once; returns (record, launch_epoch_s).

    With `scratch_writes` (runs that include `workloads.SCRATCH_WRITERS`)
    it also deletes the JVM's `/tmp/graft_scratch/p<pid>` directory when
    the JVM has ended, however it ended."""
    for sub in ("tmp", "local", "warehouse", "sink"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    plan_file = os.path.join(run_dir, "plan.txt")
    result = os.path.join(run_dir, "result.json")
    log_file = os.path.join(run_dir, "harness.log")
    with open(plan_file, "w") as f:
        f.write("\n".join(plan_lines + [f"sinkdir {os.path.join(run_dir, 'sink')}"]) + "\n")
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'tmp', 'derby.log')}",
           "-cp", cp, "perfbench.Harness", plan_file, result]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    env.pop("SPARK_CONF_DIR", None)
    t0 = time.time()
    with open(log_file, "w") as errlog:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=errlog,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit("harness JVM exceeded the run deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            if scratch_writes:
                shutil.rmtree(f"{workloads.SCRATCH_ROOT}/p{p.pid}", ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(result):
        with open(log_file) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness JVM failed with exit code {p.returncode}")
    with open(result) as f:
        return json.load(f), t0


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()
    start = time.monotonic()
    wl = workloads.WORKLOADS[args.workload]
    shared = list(wl["shared"])
    if args.full:
        shared += wl["full_shared"]
        queries = [f"prefix {p}" for p in wl["prefixes"]]
    else:
        order = sorted(wl["queries"])
        random.Random(args.seed).shuffle(order)
        queries = [f"query {q}" for q in order]

    os.makedirs(OUT, exist_ok=True)
    cp = build.build(OUT)
    data = data_dir(wl["sf"])
    # untraced timed runs of the same build, inputs and query set: the
    # baseline of a traced run's overhead
    key = json.dumps([build.stamp(OUT), os.path.basename(data), wl["sink"], shared,
                      sorted(queries)])
    results = os.path.join(OUT, "results",
                           f"{args.workload}-{hashlib.sha256(key.encode()).hexdigest()[:16]}")
    # build and data generation are one-off; the deadline covers the run
    deadline = time.monotonic() + (FULL_TIMEOUT_S if args.full else RUN_TIMEOUT_S)

    steal0 = steal_s()
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    rounds = (1, 0.0) if args.full else (MIN_ROUNDS, args.seconds)
    plan = [f"data {data}", f"cores {CORES}", f"sink {wl['sink']}", f"trace {args.trace}",
            f"rounds {rounds[0]}", f"seconds {rounds[1]}"] + \
           [f"shared {m}" for m in shared] + queries
    try:
        rec, t0 = launch(cp, run_dir, plan, deadline, scratch_writes=args.full)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal = steal_s() - steal0
    with open(os.path.join(OUT, f"last-{args.workload}.json"), "w") as f:
        json.dump(rec, f)

    goldens_path = os.path.join(HERE, "goldens.json")
    with open(goldens_path) as f:
        goldens = json.load(f)
    if args.record_goldens:
        for q in rec["queries"]:
            if q["ok"]:
                goldens["fingerprints"][q["name"]] = q["fp"]
        with open(goldens_path, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")
    failures = metrics.check_outputs(rec["queries"], goldens["fingerprints"],
                                     set(goldens.get("row_count_only", [])))
    attempted = len(rec["queries"])
    failed = len(failures)

    e2e = metrics.end_to_end(rec, t0)
    lat = list(metrics.query_latencies(rec).values())
    log(f"workload {args.workload}: {len(lat)} queries at sf{wl['sf']}, sink {wl['sink']}, "
        f"seed {args.seed}, local[{CORES}], {rec['rounds']} rounds")
    notes = {"setup_s": "launch to ready: session, table loads, shared stages",
             "batch_s": f"the list once, each query at its median of {rec['rounds'] - 1} "
                        "warm rounds",
             "batch_cpu_s": "Java-thread CPU time, each query at its median warm round",
             "live_heap_mb": "live heap at ready"}
    for k in metrics.GATED:
        v, unit = e2e[k]
        log(f"  {k:<14} {v:12.4f} {unit:<8} {notes[k]}")
    log("  diagnostics (printed, not gated):")
    log(f"  {'batch_s':<14} {e2e['batch_s'][0]:12.4f} {'s':<8} {notes['batch_s']}")
    log(f"  {'run_s':<14} {e2e['setup_s'][0] + e2e['batch_s'][0]:12.4f} {'s':<8} "
        "setup_s + batch_s")
    log(f"  {'first_round_s':<14} {metrics.first_round_s(rec):12.4f} {'s':<8} the cold first "
        "round, the list once in a fresh JVM")
    log(f"  {'batch_wall_s':<14} {rec['batch_wall_s']:12.4f} {'s':<8} all rounds, "
        "first construction to last row written")
    for p in (50, 90):
        v = metrics.percentile(lat, p)
        log(f"  {f'query_p{p}_s':<14} {v:12.4f} {'s':<8} n={len(lat)}, "
            f"{sum(1 for x in lat if x > v)} beyond it")
    log(f"  {'failed_frac':<14} {failed / attempted:12.4f} {'fraction':<8} "
        f"{failed} of {attempted}")
    log(f"  {'steal_s':<14} {steal:12.2f} {'s':<8} host CPU steal during the run")
    log(f"  {'wall_s':<14} {time.monotonic() - start:12.2f} {'s':<8} whole run incl. JVM exit")
    for name, why in failures:
        log(f"  FAILED {name}: {why}")
    unassigned = sorted(n for n, _ in rec["declared"]
                        if workloads.workload_of(n) is None)
    if unassigned:
        log(f"  note: {len(unassigned)} declared queries belong to no workload: "
            + ", ".join(unassigned))

    if args.trace:
        layer = metrics.per_layer(rec)
        trace_dir = os.path.join(OUT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "rounds": rec["rounds"],
                       "batch_s": e2e["batch_s"][0], "per_layer": layer,
                       "queries": rec["queries"], "spans": rec["spans"],
                       "jobs": rec["jobs"], "stages": rec["stages"]}, f)
        log(f"  spans written to {os.path.relpath(path, ROOT)}")
        prior = _untraced_batches(results)
        if prior:
            log(f"  trace overhead {e2e['batch_s'][0] - metrics.median(prior):+.3f} s  "
                f"(traced batch_s minus median of {len(prior)} untraced runs)")
        out_metrics = {k: {"value": v, "unit": metrics.unit_of(k)} for k, v in layer.items()}
    else:
        if not args.full:
            _save_untraced(results, args.seed, e2e["batch_s"][0])
        out_metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in metrics.GATED}

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    sys.exit(0 if failed == 0 else 1)


def _save_untraced(d, seed, batch_s):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"seed{seed}-{int(time.time() * 1e3)}.json"), "w") as f:
        json.dump({"batch_s": batch_s}, f)


def _untraced_batches(d):
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        with open(os.path.join(d, n)) as f:
            out.append(json.load(f)["batch_s"])
    return out


if __name__ == "__main__":
    main()
