#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/parity.py [sfDir] [outDir] [--no-verify] [only_query ...]

1. Runs `sbt "runMain graft.Verify <sfDir> <outDir>"` (unless --no-verify);
   named queries are passed as SPARK_GRAFT_ONLY, so only they run.
2. Loads <outDir>/oracle_sql.json.
3. For each query with an oracle, compares THE WAY THE DRIVER DOES
   (round-2 lesson): Spark result parquet read via pandas (so decimals
   would surface as Decimal objects) vs DuckDB via `.df()` (which renders
   DECIMAL as float64), columns sorted by name, rows sorted by all
   columns, then cell-exact comparison. This catches representation
   breaks that a value-level numeric compare would miss:
     - Decimal cells on either side (trailing-zero rendering != float64)
     - list/ndarray/dict cells (driver's sort_values crashes on them)
     - int-vs-float dtype crosses (renders "1" vs "1.0")
     - float64 values that are not bit-identical

Run it on BOTH sf0.001 and sf0.01 — two SFs catch trailing-zero luck
(join_sortmerge_facts passed r02 only because no sf0.01 value had a
trailing zero at its scale).

This is a pre-flight check only — the driver's own compare is
authoritative.
"""
import json
import os
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def kind(dtype, sample):
    """Comparator-relevant type kind of a column."""
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    if sample is not None:
        import datetime
        if isinstance(sample, Decimal):
            return "DECIMAL-OBJECT"  # always a failure, reported upstream
        if isinstance(sample, (np.ndarray, list, tuple, dict)):
            return "COLLECTION"      # always a failure
        if isinstance(sample, (datetime.date, datetime.datetime, pd.Timestamp)):
            return "datetime"
        if isinstance(sample, (bool, np.bool_)):
            return "bool"
        if isinstance(sample, str):
            return "str"
    return "object"


def first_non_null(series):
    s = series.dropna()
    return s.iloc[0] if len(s) else None


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame):
    sc, dc = sorted(sdf.columns), sorted(ddf.columns)
    if sc != dc:
        return f"SCHEMA: spark={sc} duck={dc}"
    if len(sdf) != len(ddf):
        return f"ROWS: spark={len(sdf)} duck={len(ddf)}"
    sdf, ddf = sdf[sc], ddf[sc]

    # hash-risk scan: forbidden cell types anywhere. For object-dtype
    # columns every non-null cell is scanned, not just the first — a
    # mixed-type column whose Decimal/ndarray cells start after row 1
    # would otherwise evade exactly the hazard this preflight exists to
    # catch (ADVICE round 3).
    for side, df in (("spark", sdf), ("duck", ddf)):
        for c in df.columns:
            if pd.api.types.is_object_dtype(df[c].dtype):
                # vectorized type census instead of a per-cell Python
                # loop: same all-cells guarantee, ~free on the common
                # all-string columns
                for t in df[c].dropna().map(type).unique():
                    if issubclass(t, Decimal):
                        return f"REPR col {c} ({side}): DECIMAL-OBJECT cells"
                    if issubclass(t, (np.ndarray, list, tuple, dict)):
                        return f"REPR col {c} ({side}): COLLECTION cells"
            else:
                v = first_non_null(df[c])
                k = kind(df[c].dtype, v)
                if k in ("DECIMAL-OBJECT", "COLLECTION"):
                    return f"REPR col {c} ({side}): {k} cell {v!r}"

    # the driver's sort — crashes on unsortable cells, which is the point
    try:
        sdf = sdf.sort_values(by=sc, na_position="last").reset_index(drop=True)
        ddf = ddf.sort_values(by=sc, na_position="last").reset_index(drop=True)
    except TypeError as e:
        return f"SORT: {e}"

    for c in sc:
        sk = kind(sdf[c].dtype, first_non_null(sdf[c]))
        dk = kind(ddf[c].dtype, first_non_null(ddf[c]))
        if sk != dk:
            return f"DTYPE col {c}: spark={sdf[c].dtype}/{sk} duck={ddf[c].dtype}/{dk}"
        a, b = sdf[c], ddf[c]
        if sk == "float":
            av, bv = a.to_numpy(dtype=np.float64), b.to_numpy(dtype=np.float64)
            ok = np.array_equal(av, bv, equal_nan=True)  # bit-exact, the driver hashes renders
        elif sk == "datetime":
            # int64 view so NaT (a fixed sentinel) compares equal to NaT
            av = pd.to_datetime(a).to_numpy(dtype="datetime64[us]").view(np.int64)
            bv = pd.to_datetime(b).to_numpy(dtype="datetime64[us]").view(np.int64)
            ok = np.array_equal(av, bv)
        else:
            an, bn = a.isna().to_numpy(), b.isna().to_numpy()
            ok = np.array_equal(an, bn) and a.fillna(0).astype(str).equals(b.fillna(0).astype(str))
        if not ok:
            bad = next(
                (i for i in range(len(a))
                 if str(a.iloc[i]) != str(b.iloc[i])), None)
            detail = "" if bad is None else f" row {bad}: spark={a.iloc[bad]!r} duck={b.iloc[bad]!r}"
            return f"VALUE col {c}:{detail}"
    return None


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/parity_out"
    only = set(args[2:])

    if "--no-verify" not in flags:
        # named queries make Verify a subset run (it writes PARTIAL_RUN_ONLY);
        # no names means a full run
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_ONLY", None)
        if only:
            env["SPARK_GRAFT_ONLY"] = ",".join(sorted(only))
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            capture_output=True, text=True, env=env,
            cwd=Path(__file__).resolve().parent.parent)
        if r.returncode != 0:
            print(r.stdout[-3000:])
            print(r.stderr[-3000:])
            sys.exit(1)
        for line in r.stdout.splitlines():
            if "[verify]" in line:
                print(line)

    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    con = connect(sf_dir)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            sdf = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        try:
            ddf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        diff = compare(name, sdf, ddf)
        if diff:
            print(f"FAIL {name}: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
