"""Shape of a query-table directory, to compare generated tables with
the reference ``sf*`` tables described in ``TESTDATA.md``.

    python3 perfbench/tablestats.py <sf_dir> [--seed N ...]

Prints one JSON object per table directory: row counts, the text and
duplicate figures of ``documents``, the geometry of ``embeddings``,
key and date ranges of ``orders``/``lineitem``, and the output row
count of every query in the suite under its DuckDB twin.  ``--seed N``
adds the tables ``corpus.train_tables`` generates for that seed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(sf_dir: str, table: str):
    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet")).to_pandas()


def table_stats(sf_dir: str) -> dict:
    from perfbench.checks import oracle_frames
    from perfbench.workloads import QUERY_SUITE
    d = _read(sf_dir, "documents")
    words = d.text.str.split()
    n_words = words.map(len)
    dup_marks = words.map(lambda ws: ws.count("dup"))
    vocab = {w for ws in words for w in ws} - {"dup"}
    e = _read(sf_dir, "embeddings")
    v = np.stack(e.embedding.to_numpy()).astype(np.float64)
    cos = v @ v.T
    np.fill_diagonal(cos, -1.0)
    o, li = _read(sf_dir, "orders"), _read(sf_dir, "lineitem")
    out_rows = {q: len(f) for q, f in
                oracle_frames(sf_dir, QUERY_SUITE, 2).items()}
    return {
        "documents": {
            "rows": len(d), "vocab": len(vocab),
            "words_min": int(n_words.min()), "words_max": int(n_words.max()),
            "words_mean": round(float(n_words.mean()), 1),
            "exact_dup_rows": int(len(d) - d.text.nunique()),
            "dup_marked_rows": int((dup_marks > 0).sum()),
            "double_marked_rows": int((dup_marks > 1).sum()),
            "langs": {k: round(x, 3) for k, x in
                      d.lang.value_counts(normalize=True).items()},
            "sources": int(d.source.nunique()),
        },
        "embeddings": {
            "rows": len(e), "dim": int(v.shape[1]),
            "labels": int(e.label.nunique()),
            "norm_mean": round(float(np.linalg.norm(v, axis=1).mean()), 4),
            "nn_cos_median": round(float(np.median(cos.max(axis=1))), 3),
            "pairs_cos_over_0.8": int((cos > 0.8).sum() // 2),
        },
        "orders": {
            "rows": len(o), "custkeys": int(o.o_custkey.nunique()),
            "dates": [str(o.o_orderdate.min().date()),
                      str(o.o_orderdate.max().date())],
        },
        "lineitem": {
            "rows": len(li), "orderkeys": int(li.l_orderkey.nunique()),
            "dates": [str(li.l_shipdate.min().date()),
                      str(li.l_shipdate.max().date())],
        },
        "query_output_rows": out_rows,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir", nargs="*")
    ap.add_argument("--seed", type=int, action="append", default=[])
    args = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import corpus
    dirs = list(args.sf_dir) + [
        corpus.train_tables(os.path.join(ROOT, ".perfbench_cache"), s)
        for s in args.seed]
    for sf_dir in dirs:
        print(json.dumps({"dir": os.path.relpath(sf_dir, ROOT),
                          **table_stats(sf_dir)}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
