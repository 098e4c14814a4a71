"""Figures of a table directory that set the cost of the benchmark's queries.

    python3 perfbench/data_stats.py DIR [OTHER_DIR]

For each directory: row counts, the documents corpus (distinct tokens,
words per document, near-duplicate and exact-duplicate rates, language
shares and words per document by language), embedding geometry and join
key skew (largest key's share of rows over the mean key's share). Given a
second directory, it also counts the cells that differ, per column.
"""
import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEYS = [("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
        ("lineitem", "l_suppkey"), ("orders", "o_custkey"),
        ("events", "user_id"), ("events", "event_type")]


def _read(d, t):
    return pq.read_table(os.path.join(d, f"{t}.parquet"))


def _trailing_dups(ws):
    """How many "dup" tokens end a document: the mark of a near-duplicate."""
    k = 0
    while k < len(ws) and ws[-1 - k] == "dup":
        k += 1
    return k


def figures(d):
    f = {t: _read(d, t).num_rows for t in TABLES}
    docs = _read(d, "documents").to_pandas()
    words = [t.split() for t in docs.text]
    n_words = np.array([len(w) for w in words])
    tail = np.array([_trailing_dups(w) for w in words])
    f["doc.distinct_tokens"] = len({w for ws in words for w in ws})
    f["doc.words_min_p10_p50_p90_max"] = [int(n_words.min())] + [
        round(float(np.percentile(n_words, p)), 1) for p in (10, 50, 90)] + [int(n_words.max())]
    f["doc.near_dup_frac"] = round(float((tail > 0).mean()), 4)
    f["doc.trailing_dup_counts"] = dict(sorted(collections.Counter(tail.tolist()).items()))
    f["doc.exact_dup_rows"] = int(len(docs) - docs.text.nunique())
    f["doc.lang_share"] = {k: round(v / len(docs), 3)
                           for k, v in sorted(collections.Counter(docs.lang).items())}
    f["doc.words_by_lang"] = {k: round(float(n_words[(docs.lang == k).values].mean()), 1)
                              for k in sorted(set(docs.lang))}
    emb = _read(d, "embeddings").to_pandas()
    x = np.stack(emb.embedding.values).astype(np.float64)
    sims = x @ x.T
    np.fill_diagonal(sims, -1.0)
    f["emb.dim"] = x.shape[1]
    f["emb.norm_min_max"] = [round(float(v), 6) for v in
                             (np.linalg.norm(x, axis=1).min(), np.linalg.norm(x, axis=1).max())]
    f["emb.mean_nn_cosine"] = round(float(sims.max(axis=1).mean()), 4)
    f["emb.labels"] = int(emb.label.nunique())
    for t, c in KEYS:
        counts = _read(d, t).column(c).to_pandas().value_counts()
        f[f"skew.{c}"] = round(float(counts.max() / counts.mean()), 2)
    return f


def differing_cells(a, b):
    out = {}
    for t in TABLES:
        ta, tb = _read(a, t), _read(b, t)
        if ta.schema.remove_metadata() != tb.schema.remove_metadata() or ta.num_rows != tb.num_rows:
            out[t] = "schema or row count differs"
            continue
        for c in ta.column_names:
            va, vb = ta.column(c).to_pandas(), tb.column(c).to_pandas()
            n = sum(1 for p, q in zip(va, vb) if not np.array_equal(p, q))
            if n:
                out[f"{t}.{c}"] = n
    return out


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    dirs = sys.argv[1:]
    figs = [figures(d) for d in dirs]
    for k in figs[0]:
        print(f"{k:32} " + "   ".join(str(f[k]) for f in figs))
    if len(dirs) == 2:
        diff = differing_cells(*dirs)
        print("differing cells:", diff if diff else "none")


if __name__ == "__main__":
    main()
