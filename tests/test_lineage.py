"""Resumable extraction: per-partition lineage, checkpoint/resume,
orphan invisibility, and final span equality after a resumed run."""

import os

import pandas as pd
import pytest

from fin_ocr_sdk_spark.plans.lineage import (assemble_output,
                                             committed_lineage,
                                             emitted_spans,
                                             run_resumable_extract)
from fin_ocr_sdk_spark.sources.tables import fixture_dir


@pytest.fixture(scope="module")
def spark():
    from fin_ocr_sdk_spark.session import get_spark
    s = get_spark("pytest-lineage", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_dir():
    return fixture_dir("smoke", 16)


def test_resume_from_partial_run(spark, smoke_dir, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("lineage_out"))
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    all_parts = sorted(os.listdir(media_dir))
    assert len(all_parts) >= 2

    # --- run 1: read only half the media part files (same paths as the
    # full table) — simulates a run that died after committing some
    # partitions
    half = [os.path.join(media_dir, p) for p in all_parts[: len(all_parts) // 2]]
    media_half = spark.read.parquet(*half)
    r1 = run_resumable_extract(spark, docs, media_half, out_dir)
    assert r1.scanned_files == len(half)
    assert r1.skipped_files == 0

    # an orphan span file without a lineage row must stay invisible
    orphan = os.path.join(out_dir, "spans", "deadbeef00000000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real parquet commit")

    # --- run 2: full media; only the remaining files get scanned
    media_full = spark.read.parquet(media_dir)
    r2 = run_resumable_extract(spark, docs, media_full, out_dir)
    assert r2.scanned_files == len(all_parts) - len(half)
    assert r2.skipped_files == len(half)
    # --- run 3: everything committed → pure no-op
    r3 = run_resumable_extract(spark, docs, media_full, out_dir)
    assert r3.scanned_files == 0
    assert r3.skipped_files == len(all_parts)

    lineage = committed_lineage(spark, out_dir).toPandas()
    assert lineage["partition_id"].is_unique
    assert (lineage["doc_count"] > 0).all()
    assert (lineage["span_count"] == lineage["doc_count"] * 4).all()
    assert lineage["checksum"].str.len().eq(32).all()

    # --- final assembled output equals the golden table
    emitted = emitted_spans(spark, out_dir)
    got = (assemble_output(docs, emitted).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got["order"] = got["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_resume_many_files(spark, smoke_dir, tmp_path_factory):
    """Scale-shape check for the resume: 200 media part files, a
    partial first run, then a resumed full run — the driver-side diff
    of the file list against the committed lineage skips exactly the
    committed files, and all committed spans are visible."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    base = pq.read_table(os.path.join(smoke_dir, "media.parquet"))
    media_dir = str(tmp_path_factory.mktemp("many_media"))
    n_files = 200
    for i in range(n_files):
        src = base.slice(i % base.num_rows, 1)
        pq.write_table(pa.table({
            "media_ref": [f"img-m{i:05d}"],
            "format": src.column("format").to_pylist(),
            "image": pa.array(src.column("image").to_pylist(),
                              type=pa.binary()),
        }), os.path.join(media_dir, f"part-{i:05d}.parquet"))
    out_dir = str(tmp_path_factory.mktemp("many_out"))
    first = [os.path.join(media_dir, f"part-{i:05d}.parquet")
             for i in range(120)]
    r1 = run_resumable_extract(spark, docs, spark.read.parquet(*first),
                               out_dir)
    assert (r1.scanned_files, r1.skipped_files) == (120, 0)
    r2 = run_resumable_extract(
        spark, docs, spark.read.parquet(media_dir), out_dir)
    assert (r2.scanned_files, r2.skipped_files) == (80, 120)
    assert emitted_spans(spark, out_dir).count() == n_files * 4


def test_checksum_is_deterministic(spark, smoke_dir, tmp_path_factory):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    out_a = str(tmp_path_factory.mktemp("out_a"))
    out_b = str(tmp_path_factory.mktemp("out_b"))
    run_resumable_extract(spark, docs, media, out_a)
    run_resumable_extract(spark, docs, media, out_b)
    la = (committed_lineage(spark, out_a).toPandas()
          .sort_values("partition_id").reset_index(drop=True))
    lb = (committed_lineage(spark, out_b).toPandas()
          .sort_values("partition_id").reset_index(drop=True))
    assert (la["checksum"] == lb["checksum"]).all()
    assert (la["partition_id"] == lb["partition_id"]).all()


def _subtree(lines: list[str], at: int) -> list[str]:
    """The plan node printed at ``lines[at]`` and every node below it
    (an executed adaptive plan prints its final and initial plans, so
    the lines after a node are not all below it)."""
    def depth(s):
        return len(s) - len(s.lstrip(" :+-*()0123456789"))
    out = [lines[at]]
    for s in lines[at + 1:]:
        if depth(s) <= depth(lines[at]):
            break
        out.append(s)
    return out


def test_lineage_scan_keeps_its_tasks(spark, smoke_dir, tmp_path,
                                      monkeypatch):
    """The pending files reach the commit kernel as whole-file units
    planned by the direct scan's planner: no Exchange below MapInPandas
    and per-partition file counts differ by at most 1.  The lineage
    rows meet in one partition through a shuffle: no Coalesce above
    the scan, which would fold it into a single task."""
    import pyarrow.parquet as papq
    from pyspark.sql import DataFrameWriter

    from fin_ocr_sdk_spark.plans import lineage as L

    table = papq.read_table(os.path.join(smoke_dir, "media.parquet"))
    media_dir = tmp_path / "media11"
    media_dir.mkdir()
    cuts = [0, 2, 4, 6, 8, 10, 11, 12, 13, 14, 15, 16]   # 11 part files
    for k, (a, b) in enumerate(zip(cuts, cuts[1:])):
        papq.write_table(table.slice(a, b - a),
                         str(media_dir / f"part-{k:05d}.parquet"))
    planned, written = [], []
    real_planned, real_parquet = L._planned_units, DataFrameWriter.parquet

    def spy_planned(spark_, units):
        planned.append(real_planned(spark_, units))
        return planned[-1]

    def spy_parquet(self, path, *args, **kwargs):
        if path.endswith("lineage"):
            written.append(self._df)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(L, "_planned_units", spy_planned)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    res = run_resumable_extract(spark, docs,
                                spark.read.parquet(str(media_dir)),
                                str(tmp_path / "out"))
    assert (res.scanned_files, res.doc_count) == (11, 16)
    (units,), (lineage,) = planned, written
    counts = units.rdd.glom().map(len).collect()
    assert sum(counts) == 11 and max(counts) - min(counts) <= 1
    assert lineage.rdd.getNumPartitions() == 1
    lines = lineage._jdf.queryExecution().executedPlan().toString() \
        .splitlines()
    scan_at = next(i for i, s in enumerate(lines) if "MapInPandas" in s)
    assert "Exchange SinglePartition" in lines[scan_at - 1]
    assert not any("Coalesce" in s for s in lines[:scan_at])
    below = "\n".join(_subtree(lines, scan_at))
    assert "Exchange" not in below and "Range" in below


def _assert_refused(spark, docs, media, out_dir):
    """run_resumable_extract raises ValueError and writes nothing."""
    with pytest.raises(ValueError, match="unfiltered file-backed"):
        run_resumable_extract(spark, docs, media, out_dir)
    assert not os.path.exists(os.path.join(out_dir, "spans"))
    assert committed_lineage(spark, out_dir) is None


def test_resume_refuses_derived_media(spark, smoke_dir, tmp_path):
    """Base64-on-parquet media (decode_base64_media over a parquet
    table): the part files hold data-URL text, not the decoded image
    and format columns, so whole-file reads cannot scan them."""
    import base64

    from fin_ocr_sdk_spark.sources.base64_source import decode_base64_media

    raw = pd.read_parquet(os.path.join(smoke_dir, "media.parquet"))
    b64_pq = str(tmp_path / "b64_media.parquet")
    pd.DataFrame({
        "media_ref": raw["media_ref"],
        "image_b64": [
            f"data:image/{fmt};base64," + base64.b64encode(img).decode()
            for fmt, img in zip(raw["format"], raw["image"])],
    }).to_parquet(b64_pq)
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = decode_base64_media(spark.read.parquet(b64_pq))
    _assert_refused(spark, docs, media, str(tmp_path / "out"))


def test_resume_refuses_filtered_media(spark, smoke_dir, tmp_path):
    """The 16 smoke rows packed into 2 files and filtered to 2 refs:
    whole-file reads would scan and emit all 16 rows' spans."""
    from pyspark.sql import functions as F

    packed_dir = str(tmp_path / "packed_media")
    (spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
     .repartition(2).write.parquet(packed_dir))
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(packed_dir).filter(
        F.col("media_ref").isin("img-00000000", "img-00000001"))
    _assert_refused(spark, docs, media, str(tmp_path / "out"))
