"""Skew-safety tests for the dedup family: a hot shingle planted in
every document (stopword-like) and a giant near-dup cluster must NOT
blow up the candidate-pair join quadratically — plus positive checks
that genuine near-dups still surface, and parity checks for the
portable-hash implementations vs their oracle arithmetic."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as m
from fin_ocr_sdk_spark.plans.pipeline import MIN_UNIT_BYTES


@pytest.fixture(scope="module")
def spark():
    from fin_ocr_sdk_spark.session import get_spark
    s = get_spark("pytest-dedup", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _write_docs(path: str, texts: list[str]) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": [f"d{i:04d}" for i in range(len(texts))],
        "text": texts,
    }), os.path.join(path, "documents.parquet"))
    return path


def _plan_lines(df) -> list[str]:
    """The physical plan before execution (one tree, no AQE final-plan
    copy), top node first."""
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _assert_capped_before_collect(lines: list[str], cap: int) -> None:
    """The bucket-size cap filter is an input of the collect_list
    aggregate (printed below it), so no over-cap list is ever built."""
    agg_at = max(i for i, s in enumerate(lines) if "collect_list" in s)
    cap_at = [i for i, s in enumerate(lines)
              if "Filter" in s and f"<= {cap})" in s]
    assert len(cap_at) == 1 and cap_at[0] > agg_at, "\n".join(lines)


def test_jaccard_hot_shingle_capped(spark, tmp_path_factory):
    """One shingle in all 100 docs would emit 4950 join rows; the
    document-frequency cap drops it, leaving only the one genuine pair
    that shares 3 rare shingles."""
    hot = "the quick fox"
    texts = [f"{hot} filler{i} x{i} y{i} z{i} w{i}" for i in range(98)]
    texts += [f"{hot} alpha beta gamma delta unique{i}" for i in (0, 1)]
    d = _write_docs(str(tmp_path_factory.mktemp("jac")), texts)
    q = m.q_ngram_jaccard_pairs(spark, d)
    _assert_capped_before_collect(_plan_lines(q), m._JACCARD_DF_CAP)
    rows = q.collect()
    # the genuine pair shares 'quick fox alpha', 'fox alpha beta',
    # 'alpha beta gamma', 'beta gamma delta' (the hot 'the quick fox'
    # is capped away; 'gamma delta uniqueN' differs) -> 4 shared
    assert len(rows) == 1
    assert (rows[0].doc_a, rows[0].doc_b) == ("d0098", "d0099")
    assert rows[0].shared_ngrams == 4


def test_minhash_giant_cluster_capped(spark, tmp_path_factory):
    """60 identical docs (> bucket cap 50) must produce no pairs from
    their saturated band buckets, while a separate 3-doc cluster still
    pairs."""
    big = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    small = "completely different tiny cluster of near duplicate text here"
    texts = [big] * 60 + [small] * 3
    d = _write_docs(str(tmp_path_factory.mktemp("mh")), texts)
    q = m.q_minhash_dedup(spark, d)
    lines = _plan_lines(q)
    _assert_capped_before_collect(lines, m._MINHASH_BUCKET_CAP)
    assert sum("MapInPandas" in s for s in lines) == 1
    pairs = {(r.doc_a, r.doc_b) for r in q.collect()}
    assert pairs == {("d0060", "d0061"), ("d0060", "d0062"),
                     ("d0061", "d0062")}


def _spread_exchange_below_kernel(q) -> bool:
    """True iff the plan hash-partitions doc_id below the query's
    document kernel (the lowest MapInPandas)."""
    lines = _plan_lines(q)
    at = max(i for i, s in enumerate(lines) if "MapInPandas" in s)
    return any("hashpartitioning(doc_id" in s for s in lines[at + 1:])


def _write_big_docs(path: str) -> str:
    """A single-row-group documents table of >= 1 MB on disk (random
    hex words: snappy cannot shrink them below the unit)."""
    rng = np.random.default_rng(5)
    texts = [" ".join(rng.bytes(8).hex() for _ in range(120))
             for _ in range(800)]
    _write_docs(path, texts)
    size = os.path.getsize(os.path.join(path, "documents.parquet"))
    assert size >= MIN_UNIT_BYTES
    assert pq.ParquetFile(os.path.join(
        path, "documents.parquet")).metadata.num_row_groups == 1
    return path


@pytest.mark.parametrize("query", ["q_minhash_dedup", "q_simhash"])
def test_sub_unit_input_is_not_spread(spark, tmp_path_factory, query):
    """A documents table below one minimum work unit (1 MB) runs its
    python kernel over the scan as is: no doc_id exchange below it.
    At >= 1 MB the single-row-group scan (one partition at local[4])
    is still spread."""
    small = _write_docs(str(tmp_path_factory.mktemp("small")),
                        [f"doc {i} text words here" for i in range(200)])
    assert not _spread_exchange_below_kernel(getattr(m, query)(spark, small))
    big = _write_big_docs(str(tmp_path_factory.mktemp("big")))
    assert _spread_exchange_below_kernel(getattr(m, query)(spark, big))


def test_spread_never_builds_the_rdd_below_the_unit(spark, tmp_path_factory,
                                                    monkeypatch):
    """Below the unit _spread returns its input without the
    ``df.rdd`` partition probe (an RDD conversion per call); at or
    above it the probe decides."""
    small = m._t(spark, _write_docs(str(tmp_path_factory.mktemp("s")),
                                    ["a b c"] * 10), "documents")
    big = m._t(spark, _write_big_docs(str(tmp_path_factory.mktemp("b"))),
               "documents")
    frame_cls = type(small)    # the concrete class, not the base API
    real_rdd = frame_cls.rdd      # a cached_property
    probes = []

    def spy(self):
        probes.append(self)
        return real_rdd.func(self)

    monkeypatch.setattr(frame_cls, "rdd", property(spy))
    assert m._spread(small, "doc_id") is small
    assert probes == []
    assert m._spread(big, "doc_id") is not big
    assert len(probes) == 1


def test_simhash_matches_reference_arithmetic(spark, tmp_path_factory):
    """The pandas-UDF 64-bit simhash equals a direct scalar-python
    evaluation of the documented formula (and near-dup texts land near
    each other in Hamming space)."""
    P = m._HASH_P

    def poly(s, mult):
        h = 0
        for ch in s:
            h = (h * mult + ord(ch)) % P
        return h

    def simhash_ref(text):
        votes = [0] * 64
        for t in set(text.strip().lower().split()):
            hs = [poly(t, mu) for mu in m._SIMHASH_MULTS]
            for i in range(64):
                votes[i] += 1 if (hs[i // 16] >> (i % 16)) & 1 else -1
        val = sum(1 << i for i in range(63) if votes[i] > 0)
        return val - (1 << 63) if votes[63] > 0 else val

    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "entirely unrelated content about spark partitions"]
    d = _write_docs(str(tmp_path_factory.mktemp("sh")), texts)
    got = {r.doc_id: r.simhash64 for r in m.q_simhash(spark, d).collect()}
    want = {f"d{i:04d}": simhash_ref(t) for i, t in enumerate(texts)}
    assert got == want
    ham = bin((got["d0000"] ^ got["d0001"]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((got["d0000"] ^ got["d0002"]) & ((1 << 64) - 1)).count("1")
    assert ham < ham_far


def test_ann_lsh_buckets_deterministic(spark, tmp_path_factory):
    """Integer-quantized hyperplane LSH: same vector → same bucket, and
    the bucket equals the documented integer formula."""
    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(20, 16)).astype(np.float32)
    vecs[1] = vecs[0]
    d = str(tmp_path_factory.mktemp("lsh"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(20), type=pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              type=pa.list_(pa.float32())),
    }), os.path.join(d, "embeddings.parquet"))
    got = {r.vec_id: r.bucket
           for r in m.q_ann_lsh_buckets(spark, d).collect()}
    assert got[0] == got[1]
    w = np.floor(vecs.astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
    i = np.arange(16)[:, None]
    b = np.arange(8)[None, :]
    s = np.where(((i * 2654435761 + b * 40503) % 97) < 48, 1, -1)
    buckets = (((w @ s) > 0) * (1 << np.arange(8))).sum(axis=1)
    assert got == {k: int(v) for k, v in enumerate(buckets)}


def _write_vecs(path: str, vecs: np.ndarray) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              type=pa.list_(pa.float32())),
    }), os.path.join(path, "embeddings.parquet"))
    return path


def test_embedding_giant_cluster_capped(spark, tmp_path_factory):
    """One giant cluster of identical vectors (> _EMB_BUCKET_CAP) lands
    in one (band, bucket) cell per band; the cap must drop those cells
    before pairing, so candidate pairs stay bounded — while a separate
    small cluster of near-identical vectors still pairs."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=16).astype(np.float32)
    other = rng.normal(size=16).astype(np.float32)
    n_big = m._EMB_BUCKET_CAP + 10
    vecs = np.vstack([np.tile(base, (n_big, 1)),
                      np.tile(other, (3, 1))
                      + rng.normal(scale=1e-4, size=(3, 16))
                      .astype(np.float32)])
    d = _write_vecs(str(tmp_path_factory.mktemp("embcap")), vecs)
    q = m.q_embedding_near_dup(spark, d)
    lines = _plan_lines(q)
    _assert_capped_before_collect(lines, m._EMB_BUCKET_CAP)
    assert sum("MapInPandas" in s for s in lines) == 1
    # the cosine UDF runs once per pair, not once per consumer
    assert sum("ArrowEvalPython" in s for s in lines) == 1
    pairs = {(r.vec_a, r.vec_b) for r in q.collect()}
    small_ids = {n_big, n_big + 1, n_big + 2}
    # the 60-vector cluster would contribute C(60,2)=1770 pairs; the
    # cap erases all of them (its cells exceed the cap in BOTH bands)
    assert pairs == {(a, b) for a in small_ids for b in small_ids if a < b}


def test_embedding_near_dup_banding_recall(spark, tmp_path_factory):
    """Two near-identical vectors must be candidates if ANY band
    agrees, and the confirmed cosine_e4 must equal the documented
    integer formula."""
    rng = np.random.default_rng(11)
    a = rng.normal(size=16).astype(np.float32)
    vecs = np.vstack([a, a + rng.normal(scale=1e-5, size=16)
                      .astype(np.float32),
                      rng.normal(size=(5, 16)).astype(np.float32)])
    d = _write_vecs(str(tmp_path_factory.mktemp("embrec")), vecs)
    rows = {(r.vec_a, r.vec_b): r.cosine_e4
            for r in m.q_embedding_near_dup(spark, d).collect()}
    assert (0, 1) in rows
    w = np.floor(vecs.astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
    num = float((w[0] * w[1]).sum())
    den = (np.sqrt(float((w[0] * w[0]).sum()))
           * np.sqrt(float((w[1] * w[1]).sum())))
    assert rows[(0, 1)] == int(np.floor(num / den * 10000 + 0.5))


def test_boilerplate_strip_semantics(spark):
    """Main-content extraction: template header/footer/nav spans (>=50%
    document frequency) are stripped, unique prose survives with a
    dense renumbering."""
    out = m.q_boilerplate_strip(spark, "").toPandas()
    texts = set(out["text"])
    assert "ACME CORP INVESTOR RELATIONS HOME NEWS CONTACT" not in texts
    assert not any("all rights reserved" in t for t in texts)
    assert not any("subscribe to our newsletter" in t for t in texts)
    assert len(out) > 0
    one = out[out.doc_id == "web-00000"].sort_values("order")
    assert list(one["order"]) == list(range(len(one)))


def test_ann_recall_floor(spark):
    """The IVF scale path must clear the encoded recall@5 floor for
    EVERY query vector (full query set present), and the lsh_candidates
    rows are reported for all queries unfiltered."""
    out = m.q_ann_recall(spark, "/root/testdata/sf0.001").toPandas()
    ivf = out[out.method == "ivf"]
    lsh = out[out.method == "lsh_candidates"]
    assert sorted(ivf.query_id) == list(range(8))      # none dropped
    assert (ivf.recall_e4 >= m._ANN_RECALL_FLOOR_E4).all()
    assert sorted(lsh.query_id) == list(range(8))


def test_lsh_neardup_recall_floor(spark, tmp_path_factory):
    """Where LSH is designed to operate — the high-cosine near-dup
    regime — candidate recall must be total: every planted
    near-identical pair is captured by q_embedding_near_dup."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    near = base + rng.normal(scale=1e-5, size=(20, 16)).astype(np.float32)
    filler = rng.normal(size=(60, 16)).astype(np.float32)
    vecs = np.vstack([base, near, filler])   # pair (i, i+20) planted
    d = _write_vecs(str(tmp_path_factory.mktemp("lshrec")), vecs)
    pairs = {(r.vec_a, r.vec_b)
             for r in m.q_embedding_near_dup(spark, d).collect()}
    planted = {(i, i + 20) for i in range(20)}
    assert planted <= pairs                   # recall 1.0 on planted set
