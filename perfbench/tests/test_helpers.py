"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last two tests start a local Spark session (about a minute).
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import corpus, perfimage, workloads  # noqa: E402
from perfbench.trace import (Span, Tracer, percentile,  # noqa: E402
                             self_times, tail_percentile)


# ------------------------------------------------------ percentile rule

@pytest.mark.parametrize("n,pct", [(1, 50.0), (19, 50.0), (20, 50.0),
                                   (99, 50.0), (100, 90.0), (999, 90.0),
                                   (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n)]
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    assert value == percentile(samples, pct)
    assert sum(1 for s in samples if s > value) >= min(10, n // 2)


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == 5.0
    assert percentile(xs, 1) == 1.0


# ---------------------------------------------------- self-time on spans

def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "b", 3.0, 6.0, 0, 0),       # overlaps a: union is [1, 6]
        Span(3, "a.x", 2.0, 3.0, 1, 0),
        Span(4, "c", 9.0, 12.0, 0, 0),      # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_records_nested_calls_and_restores():
    import types
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig = (mod.inner, mod.outer)
    tr = Tracer()
    tr.patch(mod, "inner")
    tr.patch(mod, "outer")
    assert mod.outer(1) == 4
    tr.restore()
    assert (mod.inner, mod.outer) == orig
    outer, inner = tr.spans
    assert (outer.name, inner.name) == ("outer", "inner")
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    st = self_times(tr.spans)
    assert st[outer.sid] == pytest.approx(outer.dur - inner.dur)


# ------------------------------------------------- manifest and inputs

def test_benchmark_json_lists_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(
        workloads.WORKLOADS)


def test_corpus_layout_follows_size_not_host(tmp_path):
    dirs = corpus.check_corpus(str(tmp_path), 3, 2 * corpus.ROWS_PER_PART,
                               workers=2)
    parts = sorted(glob.glob(os.path.join(dirs["main"], "media.parquet",
                                          "*.parquet")))
    assert len(parts) == 2
    assert all(pq.ParquetFile(p).metadata.num_rows == corpus.ROWS_PER_PART
               for p in parts)
    again = corpus.check_corpus(str(tmp_path), 3, 2 * corpus.ROWS_PER_PART,
                                workers=1)
    assert again == dirs


def test_query_tables_follow_the_reference_shapes():
    import numpy as np
    d = corpus._documents(np.random.default_rng([7, 0])).to_pandas()
    words = d.text.str.split()
    assert len(d) == corpus.N_DOCUMENTS
    assert {w for ws in words for w in ws} == set(corpus._VOCAB) | {"dup"}
    assert words.map(lambda ws: 10 <= len(ws) - ws.count("dup") <= 100).all()
    assert (words.map(lambda ws: "dup" in ws).sum()
            == corpus.N_DOCUMENTS // corpus.NEAR_DUP_EVERY)
    assert (d.n_chars == d.text.str.len()).all()
    e = corpus._embeddings(np.random.default_rng([7, 1])).to_pandas()
    v = np.stack(e.embedding.to_numpy())
    assert v.shape == (corpus.N_EMBEDDINGS, 64)
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)
    assert set(e.label) <= set(range(10))


# ------------------------------------------------------ Spark-backed runs

@pytest.fixture(scope="module")
def sampler():
    from perfbench.run import _prepare_env
    from perfbench.sparkmetrics import RssSampler
    _prepare_env(os.path.join(ROOT, ".perfbench_cache"),
                 len(os.sched_getaffinity(0)))
    with RssSampler() as s:
        yield s


def _run(tmp_path, sampler, workload: str, trace: bool) -> workloads.Run:
    return workloads.Run(workload, str(tmp_path), seed=5, seconds=0,
                         trace=trace, cores=2, sampler=sampler)


def test_undecodable_image_counts_as_failed(tmp_path, sampler, monkeypatch):
    n = corpus.ROWS_PER_PART
    monkeypatch.setattr(workloads, "MICR_DIRECT_DOCS", n)
    run = _run(tmp_path, sampler, "micr_direct", trace=False)
    main = corpus.check_corpus(run.cache, run.seed, n, workers=2)["main"]
    part = sorted(glob.glob(os.path.join(main, "media.parquet",
                                         "*.parquet")))[0]
    t = pq.read_table(part)
    images = t.column("image").to_pylist()
    images[3] = b"not an image"
    pq.write_table(t.set_column(t.schema.get_field_index("image"), "image",
                                pa.array(images, type=pa.binary())), part)
    try:
        workloads.micr_direct(run)
    finally:
        run.stop()
    assert run.attempted == n
    assert run.failed == 1


def test_files_skipped_equals_files_committed_in_setup(tmp_path, sampler,
                                                       monkeypatch):
    n = 2 * corpus.ROWS_PER_PART
    monkeypatch.setattr(workloads, "MICR_DIRECT_DOCS", n)
    monkeypatch.setattr(perfimage, "SUBSET", 2)
    run = _run(tmp_path, sampler, "micr_direct", trace=True)
    try:
        workloads.micr_direct(run)
    finally:
        run.stop()
    # the direct job and the assembled resume output, both checked
    assert run.failed == 0 and run.attempted == 2 * n
    assert run.metrics["lineage.files_skipped"][0] == 1
    assert run.metrics["lineage.files_scanned"][0] == 1
    assert run.metrics["lineage.scan_tasks"][0] >= 1
    spans = os.path.join(run.cache, "spans-micr_direct-seed5.jsonl")
    with open(spans) as f:
        names = {json.loads(line)["name"] for line in f}
    assert {"scan_check", "decode", "skew_angle", "get_micr_band",
            "find_micr_line"} <= names
