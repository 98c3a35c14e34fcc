"""Seeded benchmark inputs, written once per seed and cached.

Two kinds of input:

- the check corpus of ``micr_direct``, written with
  ``sources.fixtures.generate_fixture_rows_range`` at a fixed number of
  rows per media part file, so the file layout (and with it the scan's
  work units) depends only on the corpus size, never on the host;
- TPC-H-ish and training-data tables for ``train_queries``
  (``lineitem``, ``orders``, ``documents``, ``embeddings``), with the
  schemas, sizes and value distributions of the reference ``sf0.01``
  table directory the queries are written against.

Everything is a pure function of the seed.  A finished corpus carries a
``DONE.json`` marker; an interrupted write leaves no marker and is
rebuilt on the next run.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per media part file; fixed so the layout never follows the host
ROWS_PER_PART = 16
#: docs in the small warm-up corpus (one part file per core slot)
WARM_FILES = 4
WARM_ROWS = 2

CORPUS_VERSION = 3

SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])


def _gen_part(args: tuple[int, int, int]) -> tuple[list, list, list]:
    start, count, seed = args
    from fin_ocr_sdk_spark.sources.fixtures import generate_fixture_rows_range
    return generate_fixture_rows_range(start, count, seed, lossy=False)


def _write_media_part(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.table({
        "media_ref": [r["media_ref"] for r in rows],
        "format": [r["format"] for r in rows],
        "width": pa.array([r["width"] for r in rows], type=pa.int32()),
        "height": pa.array([r["height"] for r in rows], type=pa.int32()),
        "image": pa.array([r["image"] for r in rows], type=pa.binary()),
    }), path, row_group_size=len(rows))


def _write_check_tables(out: str, parts: list[tuple[list, list, list]]
                        ) -> None:
    media_dir = os.path.join(out, "media.parquet")
    os.makedirs(media_dir)
    docs: list[dict] = []
    expected: list[dict] = []
    for i, (d, m, e) in enumerate(parts):
        docs += d
        expected += e
        _write_media_part(os.path.join(media_dir, f"part-{i:05d}.parquet"), m)
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in docs],
        "spans": pa.array([r["spans"] for r in docs],
                          type=pa.list_(SPAN_TYPE)),
    }), os.path.join(out, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in expected],
        "kind": [r["kind"] for r in expected],
        "text": [r["text"] for r in expected],
        "media_ref": [r["media_ref"] for r in expected],
        "order": pa.array([r["order"] for r in expected], type=pa.int32()),
    }), os.path.join(out, "expected_spans.parquet"))


def check_corpus(cache_root: str, seed: int, n_docs: int,
                 workers: int) -> dict[str, str]:
    """Write (or reuse) a lossless (png/tiff/bmp) check corpus and a
    small warm-up corpus of WARM_FILES part files.

    Returns ``{"main": dir, "warm": dir}``; each dir holds
    ``documents.parquet``, ``media.parquet/part-*.parquet`` and
    ``expected_spans.parquet``.  The warm-up corpus uses doc indices
    after the measured ones, so the two never share an image."""
    if n_docs % ROWS_PER_PART:
        raise ValueError(f"n_docs must be a multiple of {ROWS_PER_PART}")
    key = f"checks-{n_docs}-seed{seed}"
    root = os.path.join(cache_root, key)
    marker = os.path.join(root, "DONE.json")
    want = {"version": CORPUS_VERSION, "seed": seed, "n_docs": n_docs,
            "rows_per_part": ROWS_PER_PART}
    dirs = {"main": os.path.join(root, "main"),
            "warm": os.path.join(root, "warm")}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return dirs
    shutil.rmtree(root, ignore_errors=True)
    main_tasks = [(i, ROWS_PER_PART, seed)
                  for i in range(0, n_docs, ROWS_PER_PART)]
    warm_tasks = [(n_docs + k * WARM_ROWS, WARM_ROWS, seed)
                  for k in range(WARM_FILES)]
    with ProcessPoolExecutor(max_workers=workers) as ex:
        results = list(ex.map(_gen_part, main_tasks + warm_tasks))
    _write_check_tables(dirs["main"], results[:len(main_tasks)])
    _write_check_tables(dirs["warm"], results[len(main_tasks):])
    with open(marker, "w") as f:
        json.dump(want, f)
    return dirs


# ------------------------------------------------- training-data tables

#: table sizes (rows), those of the reference sf0.01 tables; the query
#: suite is dominated by per-query fixed cost here, so larger tables
#: mostly lengthen each run
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
N_ORDERS = 15000
N_LINEITEM = 60000
N_CUSTOMERS = 1500

# The distributions below follow the reference sf0.01 tables
# (TESTDATA.md) as measured by ``tablestats.py`` (figures side by side in
# METRICS.md): documents of 10-100 words drawn uniformly from a 30-word
# vocabulary, one in 20 of them overwritten by a random document's text
# plus a " dup" marker; unit embeddings with no cluster structure and a
# uniform label in 0-9.
_VOCAB = ("a the spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row part table "
          "stream merge data batch vector join customer").split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
NEAR_DUP_EVERY = 20


def _documents(rng: np.random.Generator) -> pa.Table:
    n = N_DOCUMENTS
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n)]
    # near duplicates, applied in turn, so a copy of a copy carries two
    # markers; a source may be copied twice, which makes the occasional
    # exact duplicate, as in the reference tables
    for i in rng.choice(n, n // NEAR_DUP_EVERY, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = [_LANGS[int(k)] for k in rng.integers(0, len(_LANGS), n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.normal(size=(N_EMBEDDINGS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), type=pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS),
                          type=pa.int32()),
    })


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    us = days * 86_400_000_000
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _orders(rng: np.random.Generator) -> pa.Table:
    n = N_ORDERS
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n),
                              type=pa.int64()),
        "o_orderstatus": list(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _dates(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, n)]),
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEM
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n),
                               type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04"),
    })


TRAIN_TABLES = {"documents": _documents, "embeddings": _embeddings,
                "orders": _orders, "lineitem": _lineitem}


def train_tables(cache_root: str, seed: int) -> str:
    """Write (or reuse) the query tables for one seed; returns the dir
    passed to the queries as ``sf_dir``."""
    out = os.path.join(cache_root, f"train-seed{seed}")
    marker = os.path.join(out, "DONE.json")
    want = {"version": CORPUS_VERSION, "seed": seed,
            "tables": sorted(TRAIN_TABLES)}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for k, (name, make) in enumerate(sorted(TRAIN_TABLES.items())):
        rng = np.random.default_rng([seed, k])
        pq.write_table(make(rng), os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as f:
        json.dump(want, f)
    return out


# ------------------------------------------------------ codec probe set

PROBE_FORMATS = ("png", "tiff", "bmp", "jpeg", "gif")
PROBE_PER_FORMAT = 8


def _probe_indices() -> list[int]:
    """Doc indices whose lossy-mix format gives PROBE_PER_FORMAT images
    of every format (half of the JPEGs progressive, as in the mix)."""
    from fin_ocr_sdk_spark.sources.fixtures import make_spec
    want: dict[str, list[int]] = {f: [] for f in PROBE_FORMATS}
    i = 0
    while any(len(v) < PROBE_PER_FORMAT for v in want.values()):
        # the format depends on the index alone, not on the rng
        fmt = make_spec(i, np.random.default_rng(0), lossy=True).fmt
        if len(want[fmt]) < PROBE_PER_FORMAT:
            want[fmt].append(i)
        i += 1
    return sorted(i for v in want.values() for i in v)


def codec_probe(cache_root: str, seed: int) -> list[tuple[bytes, str]]:
    """(image bytes, format) pairs, PROBE_PER_FORMAT of every format."""
    out = os.path.join(cache_root, f"probe-seed{seed}-v{CORPUS_VERSION}"
                       ".parquet")
    if not os.path.exists(out):
        from fin_ocr_sdk_spark.sources.fixtures import (
            generate_fixture_rows_range)
        media = []
        for i in _probe_indices():
            media += generate_fixture_rows_range(i, 1, seed, True)[1]
        tmp = out + f".tmp{os.getpid()}"
        pq.write_table(pa.table({
            "format": [r["format"] for r in media],
            "image": pa.array([r["image"] for r in media],
                              type=pa.binary())}), tmp)
        os.replace(tmp, out)
    t = pq.read_table(out).to_pydict()
    return list(zip(t["image"], t["format"]))
