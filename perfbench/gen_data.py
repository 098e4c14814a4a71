"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (`Tables.table`) as one parquet file
each: a TPC-H-like star schema (region, nation, customer, supplier, part,
orders, lineitem), an `events` stream, a `documents` word-soup corpus with
planted near-duplicates and unit-norm 64-d `embeddings`.

The generator reproduces the engine's test fixtures (numpy PCG64, seed 42,
one draw sequence over all tables): at seed 42 every table at sf 0.001,
0.01 and 0.1 equals the fixture cell for cell, except `events.ts`, where 2
of 10 000 rows (sf 0.01) and 17 of 100 000 (sf 0.1) are 1 us later than
the fixture's. `data_stats.py` prints the figures that set the cost of
the text and vector operators, for comparing two table directories.

Row counts scale with `sf` the way the fixtures do (lineitem = 6e6 * sf).
The same (sf, seed) always gives identical values.

    python3 perfbench/gen_data.py <out_dir> <sf> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Value lists in the order the fixtures' generator draws from them: a
# draw of index k picks the k-th entry, so the order is part of the data.
VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# three of seven draws are "en"
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EMB_DIM = 64
DATASEED = 42


def _days(rng, lo, hi, n):
    """Midnight timestamps uniform over the days in [lo, hi]."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return pa.array((lo_d + off).astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed=DATASEED):
    """The ten tables at scale factor `sf`. One generator draws every
    column in a fixed order, so the order of the statements below is part
    of the data."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_line = max(1, int(round(6_000_000 * sf)))
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_doc = 500 if sf <= 0.01 else int(round(50_000 * sf))
    n_emb = 500 if sf <= 0.01 else int(round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    # lines land on uniformly random orders in random row order (some
    # orders get none); l_linenumber is uniform 1..7, not a position
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": _money(rng, 0, 0.10, n_line),
        "l_tax": _money(rng, 0, 0.08, n_line),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # word soup: 10-99 words drawn uniformly from VOCAB. Then one document
    # in 20 (distinct rows, applied in draw order) is overwritten with a
    # random document's current text plus " dup": near-duplicate pairs,
    # an occasional chain ("dup dup") and, rarely, exact duplicates.
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for _ in range(n_doc):
        n_words = int(rng.integers(10, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), n_words)]))
    dst = rng.choice(n_doc, n_doc // 20, replace=False)
    src = rng.integers(0, n_doc, n_doc // 20)
    for i, j in zip(dst, src):
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def write(out_dir, sf, seed=DATASEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    write(sys.argv[1], float(sys.argv[2]),
          int(sys.argv[3]) if len(sys.argv) > 3 else DATASEED)
