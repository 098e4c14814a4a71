"""Compares traced benchmark runs layer by layer.

    python3 perfbench/trace_diff.py BEFORE AFTER

BEFORE and AFTER are each a trace file written by `run.py --trace 1`
(under `.bench_build/traces/`) or a directory of them. Traces are grouped
by workload; where a side has several traces of one workload, the median
of each figure is used. For every workload present on both sides it
prints the self time of each span layer (setup steps by name, then
construct, action, the write's planning nested in its action, and the
bookkeeping left in query, round, batch and run), followed by every
per-layer metric that differs. Like the per-layer metrics, batch layers
are per round: their totals over the run's rounds divided by the rounds.
"""
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def layer_self_s(trace):
    """Self seconds per span layer of one trace; batch layers per round."""
    selfs = metrics.self_times(trace["spans"])
    out = {}
    for s in trace["spans"]:
        once = s["kind"] in ("load", "shared", "setup", "run")
        key = s["name"] if s["kind"] in ("load", "shared") else s["kind"]
        out[key] = out.get(key, 0.0) + selfs[s["id"]] / 1e3 / (1 if once else trace["rounds"])
    return out


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    by_wl = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        by_wl.setdefault(t["workload"], []).append(t)
    return by_wl


def summarize(traces):
    """Median of each self-time layer and per-layer metric over traces."""
    def med(dicts):
        keys = sorted(set().union(*dicts))
        return {k: metrics.median([d.get(k, 0.0) for d in dicts]) for k in keys}
    return (med([layer_self_s(t) for t in traces]),
            med([t["per_layer"] for t in traces]))


def fmt_row(name, a, b, unit):
    d = b - a
    pct = f"{100.0 * d / a:+7.1f}%" if a else "     n/a"
    return f"  {name:<34} {a:12.3f} {b:12.3f} {d:+12.3f} {pct}  {unit}"


def diff(before, after, out=sys.stdout):
    common = sorted(set(before) & set(after))
    if not common:
        out.write("no workload appears on both sides\n")
        return 1
    for wl in common:
        sa, la = summarize(before[wl])
        sb, lb = summarize(after[wl])
        out.write(f"== {wl}  ({len(before[wl])} vs {len(after[wl])} traces)\n")
        out.write(f"  {'self time by span layer':<34} {'before':>12} {'after':>12} {'delta':>12}\n")
        for k in sorted(set(sa) | set(sb), key=lambda k: -max(sa.get(k, 0), sb.get(k, 0))):
            out.write(fmt_row(k, sa.get(k, 0.0), sb.get(k, 0.0), "s") + "\n")
        out.write(f"  {'per-layer metric':<34}\n")
        for k in sorted(set(la) | set(lb)):
            a, b = la.get(k, 0.0), lb.get(k, 0.0)
            if a != b:
                out.write(fmt_row(k, a, b, metrics.unit_of(k)) + "\n")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(diff(load(sys.argv[1]), load(sys.argv[2])))
