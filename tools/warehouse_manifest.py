#!/usr/bin/env python3
"""Print one line per table directory of a Spark warehouse, so two
warehouses built from the same corpus can be compared with `diff`.

    python3 tools/warehouse_manifest.py [--rows] <warehouse dir>

Each line holds the table directory's name, its data-file count, per
bucket the file count and bytes (from the `_NNNNN` bucket suffix Spark
puts in a bucketed table's file names; `-` for a table without buckets),
the total bytes, and the text of the `<table>.fingerprint` marker beside
it (`-` when there is none). File names themselves carry a random id and
are left out. Data files are the files whose names start with neither `_`
nor `.`; files in partition subdirectories count as well.

With `--rows`, each line holds the table directory's name, its row count
and an order-free digest of its rows instead, read with DuckDB: the md5
of the sorted md5s of every row's text. Two builds that store the same
rows in different files, orders or Parquet footers (the writer lists a
column chunk's encodings in a per-JVM order) give the same line.
"""
import os
import re
import sys

BUCKET = re.compile(r"_(\d{5})(?:\.c\d{3})?(?:\.[A-Za-z0-9]+)*$")


def data_files(table_dir):
    """(relative path, size) of every data file under table_dir."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            out.append((os.path.relpath(p, table_dir), os.path.getsize(p)))
    return out


def manifest_line(warehouse, name):
    files = data_files(os.path.join(warehouse, name))
    buckets = {}
    for rel, size in files:
        m = BUCKET.search(os.path.basename(rel))
        if m:
            n, b = buckets.get(int(m.group(1)), (0, 0))
            buckets[int(m.group(1))] = (n + 1, b + size)
    bucket_text = ",".join(f"{k}:{n}/{b}" for k, (n, b) in sorted(buckets.items())) or "-"
    marker = os.path.join(warehouse, name + ".fingerprint")
    marker_text = open(marker).read().strip() if os.path.isfile(marker) else "-"
    total = sum(size for _, size in files)
    return (f"{name} files={len(files)} buckets={bucket_text} bytes={total} "
            f"marker={marker_text}")


def rows_line(con, warehouse, name):
    table_dir = os.path.join(warehouse, name)
    paths = [os.path.join(table_dir, rel) for rel, _ in data_files(table_dir)]
    if not paths:
        return f"{name} rows=0 digest=-"
    n, digest = con.execute(
        "SELECT count(*), md5(string_agg(d, '' ORDER BY d)) FROM ("
        " SELECT md5(CAST(t AS VARCHAR)) AS d"
        " FROM read_parquet(?, hive_partitioning = true, union_by_name = true) t)",
        [paths]).fetchone()
    return f"{name} rows={n} digest={digest}"


def main(argv):
    rows = "--rows" in argv[1:]
    args = [a for a in argv[1:] if a != "--rows"]
    if len(args) != 1 or not os.path.isdir(args[0]):
        sys.exit(__doc__.strip())
    warehouse = args[0]
    if rows:
        import duckdb
        con = duckdb.connect()
    for name in sorted(os.listdir(warehouse)):
        if os.path.isdir(os.path.join(warehouse, name)):
            print(rows_line(con, warehouse, name) if rows else manifest_line(warehouse, name))


if __name__ == "__main__":
    main(sys.argv)
