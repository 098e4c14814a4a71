#!/usr/bin/env python3
"""Check that the oracle strings a change rewrote still return the same rows.

    python3 tools/oracle_diff.py OLD_oracle_sql.json NEW_oracle_sql.json SF_DIR...

The two files are `oracle_sql.json` dumps of two checkouts (`graft.Verify`
writes one; `SPARK_GRAFT_ONLY=__none__` dumps it without running a query).
A query's oracle counts as changed when its text differs after `--` comments
are dropped and whitespace is collapsed. For every SF directory, each changed
query runs in both texts with DuckDB over that directory's tables (the views
`tools/parity.py` defines), and the two results are compared by row count and
by the order-free row digest of `tools/warehouse_manifest.py --rows`.

Prints one line per changed query and SF directory (`SAME`, `DIFF` or
`ERROR`), then a summary line, and exits 1 when any result differs or fails.
Queries present in only one file are listed as `ADDED` / `REMOVED` and also
fail the run.
"""
import json
import re
import sys

from parity import connect
from warehouse_manifest import row_digest


def normalized(sql):
    """`sql` without `--` comments, whitespace collapsed."""
    return " ".join(re.sub(r"--[^\n]*", " ", sql).split())


def main(argv):
    if len(argv) < 4:
        sys.exit(__doc__.strip())
    old = json.load(open(argv[1]))
    new = json.load(open(argv[2]))
    bad = 0
    for name in sorted(set(old) ^ set(new)):
        print(f"{'REMOVED' if name in old else 'ADDED'} {name}")
        bad += 1
    changed = sorted(n for n in set(old) & set(new)
                     if normalized(old[n]) != normalized(new[n]))
    for sf_dir in argv[3:]:
        con = connect(sf_dir)
        for name in changed:
            try:
                a = row_digest(con, f"({old[name]})")
                b = row_digest(con, f"({new[name]})")
            except Exception as e:  # noqa: BLE001 - report any engine error as a failure
                print(f"ERROR {name} {sf_dir}: {str(e).splitlines()[0]}")
                bad += 1
                continue
            same = a == b
            bad += not same
            print(f"{'SAME' if same else 'DIFF'} {name} {sf_dir}: "
                  f"rows={a[0]}/{b[0]} digest={a[1]}/{b[1]}")
    print(f"oracle_diff: {len(changed)} changed of {len(set(old) & set(new))}, "
          f"{bad} mismatched")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv)
