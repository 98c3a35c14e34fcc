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


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState exact-dedup across micro-batches: state
    carries between batches within a run AND across runs through the
    checkpoint; only first occurrences are emitted."""
    from fin_ocr_sdk_spark.streaming.dedup import run_dedup_drain

    ingest = tmp_path / "ingest"
    ingest.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_part(name, rows):
        _write_stream_part(ingest, name, rows)  # pins arrival order

    write_part("part-000.parquet", [(1, "alpha"), (2, "beta"),
                                    (3, "alpha")])
    write_part("part-001.parquet", [(4, "beta"), (5, "gamma")])
    rows = run_dedup_drain(spark, str(ingest), ckpt,
                           max_files_per_trigger=1)
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 5]

    # resume: a new file with one dup and one new text; the checkpoint
    # restores state so 'alpha' stays suppressed
    write_part("part-002.parquet", [(6, "alpha"), (7, "delta")])
    rows2 = run_dedup_drain(spark, str(ingest), ckpt,
                            max_files_per_trigger=1)
    assert sorted(r["doc_id"] for r in rows2) == [7]


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


# ------------------------------------------------- streaming near-dup

_ND_BASE = ("the quick brown fox jumps over the lazy dog while seventeen "
            "astronauts measure gravity near the old stone bridge at dawn")
_ND_NEAR = _ND_BASE + " quietly"   # 3 of 4 bands collide (verified below)
_ND_OTHER = ("completely different words about spark partitions and "
             "shuffle boundaries in large scale distributed aggregation "
             "pipelines today")


def _write_stream_part(ingest, name, rows):
    """Write an ingest part with a strictly increasing mtime derived
    from its part number: Spark's FileStreamSource orders files by
    modification time, and parts written within one clock tick would
    otherwise arrive in ARBITRARY order — the tests pin arrival order
    because first-arrival-wins is exactly the semantics under test."""
    import time
    path = str(ingest / name)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "text": [r[1] for r in rows],
    }), path)
    t = time.time() + 100 * int(name.split("-")[1].split(".")[0])
    os.utime(path, (t, t))


def test_streaming_neardup_cross_batch_and_resume(spark, tmp_path):
    """Minhash-band state across micro-batches: a document arriving in
    a later batch (and a later RUN, through the checkpoint) is flagged
    against the anchor that first registered the band signature — the
    streaming twin of q_minhash_dedup, same portable hashes."""
    from fin_ocr_sdk_spark.functions.minhash import band_signatures
    from fin_ocr_sdk_spark.streaming.neardup import run_neardup_drain

    # precondition pinning the corpus: near shares >=1 band with base,
    # other shares none (all-deterministic portable hashes)
    _, sig = band_signatures([_ND_BASE, _ND_NEAR, _ND_OTHER])
    assert (sig[0] == sig[1]).sum() >= 1
    assert (sig[0] == sig[2]).sum() == 0

    ingest = tmp_path / "ingest"
    ingest.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_stream_part(ingest, "part-000.parquet", [(1, _ND_BASE),
                                                    (2, _ND_OTHER)])
    _write_stream_part(ingest, "part-001.parquet", [(3, _ND_NEAR)])
    rows = {r["doc_id"]: r for r in
            run_neardup_drain(spark, str(ingest), ckpt,
                              max_files_per_trigger=1)}
    assert not rows[1]["is_near_dup"]          # first occurrence
    assert not rows[2]["is_near_dup"]          # unrelated
    assert rows[3]["is_near_dup"]              # cross-BATCH near-dup
    assert rows[3]["anchor_doc_id"] == 1

    # resume: a new run over a grown dir; checkpoint restores the
    # band-anchor state so the new near-dup anchors to doc 1
    _write_stream_part(ingest, "part-002.parquet",
                       [(4, _ND_BASE), (5, "fresh unrelated text with "
                                           "enough words for shingles")])
    rows2 = {r["doc_id"]: r for r in
             run_neardup_drain(spark, str(ingest), ckpt,
                               max_files_per_trigger=1)}
    assert set(rows2) == {4, 5}                # old batches not reread
    assert rows2[4]["is_near_dup"]             # cross-RUN near-dup
    assert rows2[4]["anchor_doc_id"] == 1
    assert not rows2[5]["is_near_dup"]


def test_streaming_neardup_matches_batch_pairs(spark, tmp_path):
    """Batch/stream parity: every (anchor, doc) pair the stream flags
    is a pair the batch q_minhash_dedup emits on the same corpus."""
    from fin_ocr_sdk_spark.streaming.neardup import run_neardup_drain

    texts = [_ND_BASE, _ND_OTHER, _ND_NEAR, _ND_BASE + " tonight"]
    ingest = tmp_path / "ingest"
    ingest.mkdir()
    _write_stream_part(ingest, "part-000.parquet",
                       list(enumerate(texts)))
    streamed = run_neardup_drain(spark, str(ingest), str(tmp_path / "ck"),
                                 max_files_per_trigger=1)
    stream_pairs = {(r["anchor_doc_id"], r["doc_id"]) for r in streamed
                    if r["is_near_dup"]}

    batch_dir = str(tmp_path / "batch")
    os.makedirs(batch_dir)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "text": texts,
    }), os.path.join(batch_dir, "documents.parquet"))
    batch_pairs = {(r.doc_a, r.doc_b) for r in
                   m.q_minhash_dedup(spark, batch_dir).collect()}
    assert stream_pairs  # corpus constructed to contain near-dups
    assert stream_pairs <= batch_pairs
    # every batch-flagged doc_b is flagged by the stream too
    assert {b for _, b in batch_pairs} == {b for _, b in stream_pairs}


def test_streaming_dedup_parquet_sink_resume(spark, tmp_path):
    """Production file sink for the stateful dedup: append-mode parquet
    output, no driver collect; a second run over a grown ingest dir
    resumes from the checkpoint and appends only new first
    occurrences."""
    from fin_ocr_sdk_spark.streaming.dedup import run_dedup_to_parquet

    ingest = tmp_path / "ingest"
    ingest.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_stream_part(ingest, "part-000.parquet",
                       [(1, "alpha"), (2, "beta"), (3, "alpha")])
    _write_stream_part(ingest, "part-001.parquet",
                       [(4, "beta"), (5, "gamma")])
    run_dedup_to_parquet(spark, str(ingest), out_dir, ckpt,
                         max_files_per_trigger=1)
    got = spark.read.parquet(out_dir)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 5]

    _write_stream_part(ingest, "part-002.parquet",
                       [(6, "alpha"), (7, "delta")])
    run_dedup_to_parquet(spark, str(ingest), out_dir, ckpt,
                         max_files_per_trigger=1)
    got2 = spark.read.parquet(out_dir)
    assert sorted(r.doc_id for r in got2.collect()) == [1, 2, 5, 7]


def test_streaming_dedup_null_text(spark, tmp_path):
    """NULL text rows share one sentinel digest (first occurrence kept)
    and do NOT collide with a document whose text is literally 'None'."""
    from fin_ocr_sdk_spark.streaming.dedup import run_dedup_drain

    ingest = tmp_path / "ingest"
    ingest.mkdir()
    _write_stream_part(ingest, "part-000.parquet",
                       [(1, None), (2, "None"), (3, None)])
    rows = run_dedup_drain(spark, str(ingest), str(tmp_path / "ck"),
                           max_files_per_trigger=1)
    assert sorted(r["doc_id"] for r in rows) == [1, 2]


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


def test_streaming_neardup_parquet_sink(spark, tmp_path):
    """Append-mode parquet sink for the streaming near-dup: the match
    rows land in the table without a driver collect, and the per-doc
    verdict derived from them matches the drain helper's."""
    from fin_ocr_sdk_spark.streaming.neardup import run_neardup_to_parquet

    ingest = tmp_path / "ingest"
    ingest.mkdir()
    out_dir = str(tmp_path / "out")
    _write_stream_part(ingest, "part-000.parquet", [(1, _ND_BASE),
                                                    (2, _ND_OTHER)])
    _write_stream_part(ingest, "part-001.parquet", [(3, _ND_NEAR)])
    run_neardup_to_parquet(spark, str(ingest), out_dir,
                           str(tmp_path / "ck"), max_files_per_trigger=1)
    rows = spark.read.parquet(out_dir).collect()
    flagged = {r.doc_id for r in rows if r.anchor_doc_id != r.doc_id}
    assert flagged == {3}
    anchors = {r.anchor_doc_id for r in rows if r.doc_id == 3}
    assert 1 in anchors
