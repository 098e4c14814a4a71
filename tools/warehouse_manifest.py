#!/usr/bin/env python3
"""Print one line per table directory of a Spark warehouse, so two
warehouses built from the same corpus can be compared with `diff`.

    python3 tools/warehouse_manifest.py <warehouse dir>

Each line holds the table directory's name, its data-file count, per
bucket the file count and bytes (from the `_NNNNN` bucket suffix Spark
puts in a bucketed table's file names; `-` for a table without buckets),
the total bytes, and the text of the `<table>.fingerprint` marker beside
it (`-` when there is none). File names themselves carry a random id and
are left out. Data files are the files whose names start with neither `_`
nor `.`; files in partition subdirectories count as well.
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


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        sys.exit(__doc__.strip())
    warehouse = argv[1]
    for name in sorted(os.listdir(warehouse)):
        if os.path.isdir(os.path.join(warehouse, name)):
            print(manifest_line(warehouse, name))


if __name__ == "__main__":
    main(sys.argv)
