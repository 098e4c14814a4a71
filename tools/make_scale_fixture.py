#!/usr/bin/env python3
"""Build the sf1-ish scale-probe fixture (VERDICT r8 #5).

Replicates the sf0.1 fact tables ~10x with id offsets so per-query
sf0.1 -> sf1 scaling exponents can be measured locally. Replication is
content-aware so the probe measures PLAN scaling, not fixture
pathology:

- lineitem/orders: replica i offsets l_orderkey/o_orderkey by
  i * (max+1) in lockstep, so the order join keeps its 1:n shape and
  basket/graph rows see 10x real baskets.
- events: event_id offset; users/timestamps unchanged (SCD2 history
  gets 10x the change pressure per user — the write-amplification
  case).
- documents: replica i prefixes every token with r<i>, so each replica
  keeps the ORIGINAL near-dup structure internally but shares no
  shingles across replicas (10x corpus = 10x novel vocabulary, the
  realistic growth mode). Naive copying would make every replica pair
  an exact dup and near-dup pair counts would grow 100x by
  construction.
- embeddings: replica i cyclically rotates the 64 dims by 7*i: all
  within-replica inner products are preserved EXACTLY (same near-dup
  geometry), cross-replica cosines decorrelate to ~N(0, 1/64) noise.
  Labels/queries unchanged.

Each replicated table is written as a DIRECTORY `<table>.parquet` of one
file per replica (DuckDB's PER_THREAD_OUTPUT over a UNION ALL of the
per-replica scans: each scan is its own pipeline, so each lands in its
own writer thread's file), so a probe over the fixture reads a
multi-file table with one split per file, the way a cluster-scale
corpus arrives. The small dimension tables stay single files.

Usage: python3 tools/make_scale_fixture.py [src_sf_dir] [out_dir] [replicas]
Defaults: /root/testdata/sf0.1 /tmp/graft_sf1 10
"""
import os
import shutil
import sys

import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1"
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10

os.makedirs(out, exist_ok=True)
con = duckdb.connect()
con.execute("SET threads TO 16")
con.execute("SET enable_progress_bar = false")

copy_verbatim = ["region", "nation", "customer", "supplier", "part"]
for t in copy_verbatim:
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    print(f"copied {t}")


def next_key(table, col):
    return con.execute(
        f"SELECT MAX({col}) + 1 FROM read_parquet('{src}/{table}.parquet')").fetchone()[0]


def replicate(table, select):
    """Write `reps` replicas of `table`, replica i being `select(i)` over
    the source scan `s`, as the directory out/<table>.parquet."""
    path = f"{out}/{table}.parquet"
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    union = " UNION ALL ".join(
        f"SELECT {select(i)} FROM read_parquet('{src}/{table}.parquet') s" for i in range(reps))
    con.execute(f"COPY ({union}) TO '{path}' (FORMAT PARQUET, PER_THREAD_OUTPUT TRUE)")
    files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    if files < min(8, reps):
        sys.exit(f"{table}: {files} files, expected at least {min(8, reps)}")


okey = next_key("orders", "o_orderkey")
replicate("orders", lambda i:
          f"o_orderkey + {i * okey} AS o_orderkey, COLUMNS(c -> c <> 'o_orderkey')")
replicate("lineitem", lambda i:
          f"l_orderkey + {i * okey} AS l_orderkey, COLUMNS(c -> c <> 'l_orderkey')")
print("replicated orders + lineitem")

ekey = next_key("events", "event_id")
replicate("events", lambda i:
          f"event_id + {i * ekey} AS event_id, COLUMNS(c -> c <> 'event_id')")
print("replicated events")

dkey = next_key("documents", "doc_id")
replicate("documents", lambda i:
          f"doc_id + {i * dkey} AS doc_id, "
          + ("text" if i == 0 else f"'r{i} ' || replace(text, ' ', ' r{i} ')") + " AS text, "
          "COLUMNS(c -> c NOT IN ('doc_id', 'text'))")
print("replicated documents (token-prefixed per replica)")

vkey = next_key("embeddings", "vec_id")
replicate("embeddings", lambda i:
          f"vec_id + {i * vkey} AS vec_id, "
          + ("embedding" if i == 0 else
             f"list_concat(embedding[{(7 * i) % 64 + 1}:64], embedding[1:{(7 * i) % 64}])")
          + " AS embedding, label")
print("replicated embeddings (dim-rotated per replica)")

for t in ["orders", "lineitem", "events", "documents", "embeddings"]:
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}/{t}.parquet/*.parquet')").fetchone()[0]
    files = len(os.listdir(f"{out}/{t}.parquet"))
    print(f"{t}: {n} rows in {files} files")
