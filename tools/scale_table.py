#!/usr/bin/env python3
"""Generate the SCALE.md round table from two graft.Probe logs.

Usage: scale_table.py <sf0.1 log> <sf1 log>

Reads the cold seconds of each `SCALE <name> <cold_s> warm=... ` line in
both logs (the graft.Probe output format; the trailing warm, rows and
jobs fields are ignored), emits a markdown table of sf0.1 vs sf1 (10x fixture)
seconds and the ratio, and FLAGS any ratio above 10 (super-linear —
the per-round gate VERDICT r12 #6 / r13 #7 asks for). Exit code 1 when
any query is flagged so the round checklist can gate on it.
"""
import re
import sys


def read(path):
    out = {}
    for line in open(path):
        m = re.search(r"SCALE (\S+) (-?\d+\.\d+)", line)
        if m and m.group(1) != "shared_stage_s":
            out[m.group(1)] = float(m.group(2))
    return out


def main():
    lo, hi = read(sys.argv[1]), read(sys.argv[2])
    flagged = []
    print("| query | sf0.1 s | sf1 s (10x) | ratio | flag |")
    print("|---|---|---|---|---|")
    for q in sorted(lo, key=lambda q: -(hi.get(q, 0) / max(lo[q], 1e-9))):
        if q not in hi:
            continue
        if lo[q] < 0 or hi[q] < 0:
            print(f"| `{q}` | {lo[q]:.2f} | {hi[q]:.2f} | — | **FAILED** |")
            flagged.append(q)
            continue
        ratio = hi[q] / max(lo[q], 1e-9)
        flag = "**SUPER-LINEAR**" if ratio > 10 else ""
        if ratio > 10:
            flagged.append(q)
        print(f"| `{q}` | {lo[q]:.2f} | {hi[q]:.2f} | {ratio:.1f}x | {flag} |")
    if flagged:
        print(f"\nFLAGGED (>10x at 10x data): {', '.join(flagged)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
