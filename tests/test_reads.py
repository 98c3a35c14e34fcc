"""Table reads of the driver contract: ``__spark_entry__._read`` infers
a table's schema once per session, and later reads of the same files
run no Spark job."""

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as m


@pytest.fixture(scope="module")
def spark():
    from fin_ocr_sdk_spark.session import get_spark
    s = get_spark("pytest-reads", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_second_read_runs_no_job(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), k=[1, 2, 3], s=["a", "b", "c"])
    first, n_first = jobs_of(spark, lambda: m._t(spark, str(tmp_path), "t"))
    again, n_again = jobs_of(spark, lambda: m._t(spark, str(tmp_path), "t"))
    assert (n_first, n_again) == (1, 0)
    plain = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert first.schema == again.schema == plain.schema
    assert again.inputFiles() == plain.inputFiles()
    assert sorted(again.collect()) == sorted(plain.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, k=[1, 2])
    m._t(spark, str(tmp_path), "t")
    _write(path, k=[1, 2], extra=[0.5, 1.5])
    df, n = jobs_of(spark, lambda: m._t(spark, str(tmp_path), "t"))
    assert n == 1
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, 0.5), (2, 1.5)]


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    """A session conf that changes what inference returns is part of
    the cache key: the same files read under it get its schema."""
    _write(str(tmp_path / "t.parquet"), b=pa.array([b"x"], pa.binary()))
    assert m._t(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, n = jobs_of(spark, lambda: m._t(spark, str(tmp_path), "t"))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert n == 1 and df.dtypes == [("b", "string")]
    assert m._t(spark, str(tmp_path), "t").dtypes == [("b", "binary")]


def test_unstattable_paths_fall_back(spark, tmp_path, monkeypatch):
    """A path the driver cannot stat (a glob, another filesystem, a
    missing path) is read with plain ``spark.read.parquet``: inferred
    on every read, with the same errors."""
    from pyspark.errors import AnalysisException
    d = tmp_path / "parts"
    d.mkdir()
    _write(str(d / "p0.parquet"), k=[1])
    _write(str(d / "p1.parquet"), k=[2])
    glob = str(d / "*.parquet")
    for _ in range(2):
        df, n = jobs_of(spark, lambda: m._read(spark, glob))
        assert n == 1 and sorted(df.collect()) == [(1,), (2,)]
    # a file: URI of a local table is cached like a bare path
    uri = "file://" + str(d)
    assert jobs_of(spark, lambda: m._read(spark, uri))[1] == 1
    assert jobs_of(spark, lambda: m._read(spark, uri))[1] == 0
    # another filesystem is never stat'ed on the driver, nor is a bare
    # path when the default filesystem is not local; a missing path
    # fails as a plain read does
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hconf.get("fs.defaultFS")
    with monkeypatch.context() as mp:
        mp.setattr(m, "_file_stamps", lambda p: pytest.fail(p))
        with pytest.raises(Exception, match="nosuchfs"):
            m._read(spark, "nosuchfs://bucket/t.parquet")
        hconf.set("fs.defaultFS", "nosuchfs:///")
        try:
            with pytest.raises(Exception, match="nosuchfs"):
                m._read(spark, str(d))
        finally:
            hconf.set("fs.defaultFS", default_fs)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        m._read(spark, str(tmp_path / "missing.parquet"))


def test_ann_cosine_topk_builds_with_one_job(spark, tmp_path):
    """The query vectors are collected unsorted and ordered on the
    driver: building the query runs only that collect."""
    rng = np.random.default_rng(7)
    ids = rng.permutation(40)
    _write(str(tmp_path / "embeddings.parquet"), vec_id=ids.astype(np.int64),
           embedding=[list(v) for v in rng.normal(size=(40, 6))])
    want = m.q_ann_cosine_topk(spark, str(tmp_path)).toPandas()
    q, n = jobs_of(spark, lambda: m.q_ann_cosine_topk(spark, str(tmp_path)))
    assert n == 1
    got = q.toPandas()
    assert sorted(got["query_id"].unique()) == list(range(8))
    assert (got.sort_values(["query_id", "cosine", "neighbor_id"])
            .reset_index(drop=True)
            .equals(want.sort_values(["query_id", "cosine", "neighbor_id"])
                    .reset_index(drop=True)))


def test_fixture_media_keeps_direct_strategy(spark):
    from fin_ocr_sdk_spark.plans.pipeline import _choose_media_strategy
    first = m._fxdf(spark, "media")
    again, n = jobs_of(spark, lambda: m._fxdf(spark, "media"))
    assert n == 0
    assert _choose_media_strategy(first) == "direct"
    assert _choose_media_strategy(again) == "direct"
    assert again.inputFiles() == first.inputFiles()
