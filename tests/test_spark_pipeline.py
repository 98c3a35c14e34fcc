"""Spark-level span-equality test: the distributed pipeline must produce
exactly the golden expected_spans table on the smoke corpus."""

import os

import pandas as pd
import pytest

from fin_ocr_sdk_spark.plans.pipeline import extract_spans, preprocess_only
from fin_ocr_sdk_spark.sources.tables import fixture_dir


@pytest.fixture(scope="module")
def spark():
    from fin_ocr_sdk_spark.session import get_spark
    s = get_spark("pytest-pipeline", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_dir():
    return fixture_dir("smoke", 16)


def test_span_equality(spark, smoke_dir):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    got = (extract_spans(docs, media).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got["order"] = got["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(got[cols], exp[cols])


def test_no_micr_errors(spark, smoke_dir):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    out = extract_spans(docs, media)
    assert out.filter(out.kind == "micr:error").count() == 0


def test_filtered_media_respected_by_direct_reads(spark, smoke_dir):
    """Regression: relational filters on the media DataFrame are
    honored (inputFiles() is pre-filter, so a filtered plan takes the
    arrow strategy instead of reading the part files directly)."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = (spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
             .filter(F.col("media_ref") > "img-00000007"))
    out = extract_spans(docs, media)
    excluded = (out.filter((out.doc_id == "doc-00000000")
                           & out.kind.startswith("micr")).count())
    assert excluded == 0  # doc0's media was filtered out
    kept = (out.filter((out.doc_id == "doc-00000009")
                       & (out.kind == "micr:line")).count())
    assert kept == 1
    # renumbering stays dense for the filtered doc
    orders = [r.order for r in out.filter(out.doc_id == "doc-00000000")
              .orderBy("order").collect()]
    assert orders == list(range(len(orders)))


def test_media_strategy_auto_selection(spark, smoke_dir, tmp_path):
    """The pipeline picks the media scan strategy from the media plan:
    direct for a bare file scan, arrow for anything else — filtered
    (light, whole-file aligned or heavy within files), derived or
    in-memory media."""
    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans.pipeline import _choose_media_strategy
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    assert _choose_media_strategy(media) == "direct"
    light = media.filter(F.col("media_ref") >= "img-00000001")  # 15/16
    # whole-file elimination (1 row per smoke part file)
    aligned = media.filter(F.col("media_ref") < "img-00000002")  # 2/16
    # within-file selectivity: all 16 rows packed into 2 files, keep 2
    packed_dir = str(tmp_path / "packed_media")
    media.repartition(2).write.parquet(packed_dir)
    heavy = spark.read.parquet(packed_dir).filter(F.col("media_ref").isin(
        "img-00000000", "img-00000001"))
    derived = media.withColumn("format", F.lower("format"))
    inmem = spark.createDataFrame(
        [("img-x", "png", b"y")],
        "media_ref string, format string, image binary")
    for df in (light, aligned, heavy, derived, inmem):
        assert _choose_media_strategy(df) == "arrow"


def test_heavily_filtered_media_same_result_both_paths(spark, smoke_dir):
    """A heavily filtered media table (2 of 16 rows) gives the golden
    spans of the kept media and no micr:* spans for the dropped media;
    every doc's order stays dense."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    kept = ("img-00000000", "img-00000001")
    media = (spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
             .filter(F.col("media_ref") < "img-00000002"))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got = (extract_spans(docs, media).toPandas()[cols]
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
    exp = exp[~(exp["kind"].str.startswith("micr:")
                & ~exp["media_ref"].isin(kept))]
    exp = exp.sort_values(["doc_id", "order"]).reset_index(drop=True)
    exp["order"] = exp.groupby("doc_id").cumcount()
    got["order"] = got["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(got, exp[cols])
    assert (got["kind"] == "micr:line").sum() == 2


def test_base64_media_source_end_to_end(spark, smoke_dir, tmp_path):
    """Media delivered as data-URL strings (the reference's base64
    request buffers, src/image.ts:89 / check.ts:198): Catalyst-side
    decode, auto-routed through the arrow path (derived columns make
    direct part-file reads invalid), span output identical."""
    import base64

    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans.pipeline import _choose_media_strategy
    from fin_ocr_sdk_spark.sources.base64_source import decode_base64_media

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    raw = pd.read_parquet(os.path.join(smoke_dir, "media.parquet"))
    b64 = spark.createDataFrame(pd.DataFrame({
        "media_ref": raw["media_ref"],
        "image_b64": [
            f"data:image/{fmt};base64," + base64.b64encode(img).decode()
            for fmt, img in zip(raw["format"], raw["image"])],
    }))
    media = decode_base64_media(b64)
    got = media.select("media_ref", "format", "image").toPandas()
    got = got.sort_values("media_ref").reset_index(drop=True)
    assert (got["format"] == raw.sort_values("media_ref")
            .reset_index(drop=True)["format"]).all()
    assert all(bytes(a) == bytes(b) for a, b in zip(
        got["image"], raw.sort_values("media_ref")
        .reset_index(drop=True)["image"]))

    out = (extract_spans(docs, media).toPandas()
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    exp = (pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
           .sort_values(["doc_id", "order"]).reset_index(drop=True))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    out["order"] = out["order"].astype("int32")
    exp["order"] = exp["order"].astype("int32")
    pd.testing.assert_frame_equal(out[cols], exp[cols])

    # a parquet-backed but column-derived media table must also refuse
    # direct reads (the part files hold b64 text, not binary images)
    b64_pq = str(tmp_path / "b64_media.parquet")
    b64.write.mode("overwrite").parquet(b64_pq)
    derived = decode_base64_media(spark.read.parquet(b64_pq))
    assert _choose_media_strategy(derived) == "arrow"
    kept = derived.filter(F.col("media_ref") >= "img-00000000")
    assert _choose_media_strategy(kept) == "arrow"


def test_preprocess_only(spark, smoke_dir):
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    pre = preprocess_only(docs, media).toPandas()
    assert len(pre) == 16
    assert (pre["overlap"] == "false").all()
    assert pre["band"].map(len).min() > 0


def test_preprocess_only_corrupt_image_is_error_row(spark, smoke_dir):
    """One corrupt image must yield an error row, not a failed task —
    the same failure contract as the main scan path."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    media = media.withColumn(
        "image",
        F.when(F.col("media_ref") == "img-00000000",
               F.lit(b"\xff\xd8\xffgarbage")).otherwise(F.col("image")))
    pre = preprocess_only(docs, media).toPandas().set_index("media_ref")
    assert pre.loc["img-00000000", "overlap"].startswith("error: decode")
    assert pre.loc["img-00000000", "band"] is None
    assert (pre.drop("img-00000000")["overlap"] == "false").all()


def test_entry_contract(spark):
    import __spark_entry__ as m
    df = m.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "order"}
    qs = m.queries()
    oracles = m.oracle_sql()
    assert set(oracles).issubset(set(qs))
    assert len(qs) >= 20


def test_media_manifest_shape(spark, smoke_dir, monkeypatch):
    """media_manifest: canonical local paths (no file: URI), one row
    per part file with its size from the engine's listing; None for
    plans that list no files, without attempting the _metadata select
    (Spark would log its failed analysis at ERROR)."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F

    from fin_ocr_sdk_spark.plans.pipeline import media_manifest

    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    man = media_manifest(media).toPandas()
    assert len(man) == 16  # one smoke part file per doc
    assert man["path"].str.startswith("/").all()
    assert not man["path"].str.contains("file:").any()
    sizes = {os.path.basename(p): os.path.getsize(p) for p in man["path"]}
    assert all(s > 0 for s in sizes.values())
    assert (man.set_index(man["path"].map(os.path.basename))["size"]
            .to_dict() == sizes)
    # filtered plan: only files with surviving rows are listed
    lite = media.filter(F.col("media_ref") < "img-00000002")
    assert len(media_manifest(lite).toPandas()) == 2
    # derived columns: _metadata propagates through the Project, so the
    # BACKING files still list (the strategy layer, not the manifest,
    # is what blocks direct reads of derived plans)
    derived = media.select(F.col("media_ref"),
                           F.base64("image").alias("payload"))
    assert len(media_manifest(derived).toPandas()) == 16
    # in-memory relation: no files -> None, and no select attempted
    inmem = spark.createDataFrame([("x", b"y")], "media_ref string, image binary")
    selects = []
    frame_cls = type(inmem)    # the concrete class, not the base API
    real_select = frame_cls.select

    def spy(self, *cols):
        selects.append(cols)
        return real_select(self, *cols)

    monkeypatch.setattr(frame_cls, "select", spy)
    assert media_manifest(inmem) is None
    assert selects == []


def test_tiny_images_yield_one_error_span_each(spark, tmp_path,
                                               monkeypatch):
    """Every degenerate image yields exactly one micr:error span and the
    job succeeds (a 1-row PNG used to fail its task, then the job), on
    both media strategies and through preprocess_only."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fin_ocr_sdk_spark.plans import pipeline as P
    from fin_ocr_sdk_spark.sources import codecs
    from fin_ocr_sdk_spark.sources.tables import SPAN_TYPE

    shapes = [(1, 1), (1, 64), (64, 1), (2, 2), (3, 300)]
    refs = [f"tiny-{h}x{w}" for h, w in shapes]
    pq.write_table(pa.table({
        "media_ref": refs,
        "format": ["png"] * len(shapes),
        "width": pa.array([w for _, w in shapes], type=pa.int32()),
        "height": pa.array([h for h, _ in shapes], type=pa.int32()),
        "image": pa.array([codecs.encode_png(np.full(s, 200, np.uint8))
                           for s in shapes], type=pa.binary()),
    }), str(tmp_path / "media.parquet"))
    pq.write_table(pa.table({
        "doc_id": [f"doc-{r}" for r in refs],
        "spans": pa.array([[{"kind": "image", "text": "", "media_ref": r,
                             "offset": 0}] for r in refs],
                          type=pa.list_(SPAN_TYPE)),
    }), str(tmp_path / "documents.parquet"))
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = spark.read.parquet(str(tmp_path / "media.parquet"))
    for strategy in ("direct", "arrow"):
        monkeypatch.setattr(P, "_choose_media_strategy",
                            lambda m, s=strategy: s)
        out = extract_spans(docs, media).toPandas()
        micr = out[out["kind"].str.startswith("micr:")]
        assert (micr["kind"] == "micr:error").all()
        assert sorted(micr["media_ref"]) == sorted(refs)
        # preprocess_only: the same images yield rows, never a failed
        # task; a failure past decode is an internal error row
        pre = preprocess_only(docs, media).toPandas()
        assert sorted(pre["media_ref"]) == sorted(refs)
        err = pre["overlap"].str.startswith("error: ")
        assert pre.loc[err, "overlap"].str.startswith(
            "error: internal: ").all()
        assert pre.loc[err, "band"].isna().all()
        assert err.any()  # the 1-row images fail in get_micr_band


def _micr_set(rows) -> set:
    return {(r["media_ref"], r["kind"], r["text"]) for r in rows
            if r["kind"].startswith("micr:")}


def test_scan_kernel_local_equals_map_in_pandas(spark, smoke_dir):
    """The media-keyed kernel gives the same frame called on local
    pandas media rows as under mapInPandas over either strategy's
    input (direct work units, arrow media rows)."""
    from fin_ocr_sdk_spark.plans import pipeline as P

    kernel = P.make_scan_batches(P.scan_rows, P.MEDIA_SCAN_SCHEMA)
    path = os.path.join(smoke_dir, "media.parquet")
    local = pd.concat(kernel(iter([pd.read_parquet(
        path, columns=["media_ref", "format", "image"])])))
    media = spark.read.parquet(path)
    direct = (P._planned_units(spark, P._slice_units(media))
              .mapInPandas(kernel, P.MEDIA_SCAN_SCHEMA).toPandas())
    arrow = (media.select("media_ref", "format", "image")
             .mapInPandas(kernel, P.MEDIA_SCAN_SCHEMA).toPandas())

    def norm(df):
        df = df.astype({"sub_order": "int32"})
        return df.sort_values(["media_ref", "sub_order"]).reset_index(
            drop=True)

    assert len(local) == 16 * 4
    pd.testing.assert_frame_equal(norm(direct), norm(local))
    pd.testing.assert_frame_equal(norm(arrow), norm(local))


@pytest.mark.parametrize("query", ["media_resize", "media_metadata"])
def test_media_query_matches_its_oracle(spark, query):
    """The media queries equal their DuckDB oracles under the contract
    check's canonical form (scripts/validate_contract.canon)."""
    import importlib.util

    import duckdb

    import __spark_entry__ as m
    spec = importlib.util.spec_from_file_location(
        "validate_contract", os.path.join(os.path.dirname(m.__file__),
                                          "scripts", "validate_contract.py"))
    vc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vc)
    got = vc.canon(m.queries()[query](spark, "").toPandas())
    with duckdb.connect() as con:
        exp = vc.canon(con.execute(m.oracle_sql()[query]).fetchdf())
    assert len(got) == m.SFTEST_DOCS
    pd.testing.assert_frame_equal(got, exp)


def test_every_extraction_path_same_micr_spans(spark, smoke_dir, tmp_path,
                                               monkeypatch):
    """direct, arrow, resumable lineage + assemble_output and the
    streaming demo emit the same micr:* (media_ref, kind, text) set."""
    from fin_ocr_sdk_spark.plans import pipeline as P
    from fin_ocr_sdk_spark.plans.lineage import (assemble_output,
                                                 emitted_spans,
                                                 run_resumable_extract)
    from fin_ocr_sdk_spark.streaming.video import demo

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    media_dir = os.path.join(smoke_dir, "media.parquet")
    media = spark.read.parquet(media_dir)
    direct = _micr_set(extract_spans(docs, media).collect())
    assert len(direct) == 16 * 4
    out_dir = str(tmp_path / "lineage")
    run_resumable_extract(spark, docs, media, out_dir)
    resumable = _micr_set(
        assemble_output(docs, emitted_spans(spark, out_dir)).collect())
    streamed = _micr_set(demo(spark, media_dir)[0])
    monkeypatch.setattr(P, "_choose_media_strategy", lambda m: "arrow")
    arrow = _micr_set(extract_spans(docs, media).collect())
    assert direct == arrow == resumable == streamed


def test_shared_media_ref_same_spans_both_strategies(spark, smoke_dir,
                                                     monkeypatch):
    """Two documents referencing one media row get identical micr:*
    spans, on both strategies (the image is scanned once per media row,
    then joined to every document that references it)."""
    import pyarrow as pa

    from fin_ocr_sdk_spark.plans import pipeline as P
    from fin_ocr_sdk_spark.sources.tables import SPAN_TYPE

    ref = "img-00000003"
    spans = [[{"kind": "text", "text": "memo", "media_ref": None,
               "offset": 0},
              {"kind": "image", "text": "", "media_ref": ref,
               "offset": 1}],
             [{"kind": "image", "text": "", "media_ref": ref,
               "offset": 0}]]
    docs = spark.createDataFrame(pa.table({
        "doc_id": ["doc-a", "doc-b"],
        "spans": pa.array(spans, type=pa.list_(SPAN_TYPE))}).to_pandas())
    media = spark.read.parquet(os.path.join(smoke_dir, "media.parquet"))
    results = []
    for strategy in ("direct", "arrow"):
        monkeypatch.setattr(P, "_choose_media_strategy",
                            lambda m, s=strategy: s)
        out = extract_spans(docs, media).toPandas()
        micr = out[out["kind"].str.startswith("micr:")]
        per_doc = {d: g.sort_values("order")[["kind", "text", "media_ref"]]
                   .reset_index(drop=True)
                   for d, g in micr.groupby("doc_id")}
        assert len(per_doc["doc-a"]) == 4
        pd.testing.assert_frame_equal(per_doc["doc-a"], per_doc["doc-b"])
        results.append(per_doc["doc-a"])
    pd.testing.assert_frame_equal(results[0], results[1])


def test_null_image_is_one_decode_error(spark, smoke_dir, tmp_path):
    """A NULL ``image`` cell yields one ``decode:`` micr:error span, and
    the other images their golden spans, on both media strategies
    (an in-memory table takes the arrow path, a parquet part the direct
    path); preprocess_only and the resumable scan report it the same
    way instead of failing their task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fin_ocr_sdk_spark.plans import pipeline as P
    from fin_ocr_sdk_spark.plans.lineage import (emitted_spans,
                                                 run_resumable_extract)

    docs = spark.read.parquet(os.path.join(smoke_dir, "documents.parquet"))
    rows = (pd.read_parquet(os.path.join(smoke_dir, "media.parquet"),
                            columns=["media_ref", "format", "image"])
            .sort_values("media_ref").head(4).reset_index(drop=True))
    null_ref = rows.loc[1, "media_ref"]
    rows.loc[1, "image"] = None
    good = set(rows["media_ref"]) - {null_ref}
    exp = pd.read_parquet(os.path.join(smoke_dir, "expected_spans.parquet"))
    want = _micr_set(exp[exp["media_ref"].isin(good)].to_dict("records"))
    part = str(tmp_path / "media.parquet")
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), part)
    schema = "media_ref string, format string, image binary"
    in_memory = spark.createDataFrame(rows, schema)
    on_disk = spark.read.parquet(part)
    for media, strategy in ((in_memory, "arrow"), (on_disk, "direct")):
        assert P._choose_media_strategy(media) == strategy
        got = _micr_set(extract_spans(docs, media).collect())
        errors = [s for s in got if s[1] == "micr:error"]
        assert errors == [(null_ref, "micr:error",
                           "decode: missing image payload")]
        assert got - set(errors) == want
        pre = preprocess_only(docs, media).toPandas().set_index("media_ref")
        assert pre.loc[null_ref, "overlap"] == (
            "error: decode: missing image payload")
        assert (pre.drop(null_ref)["overlap"] == "false").all()
    out_dir = str(tmp_path / "lineage")
    run_resumable_extract(spark, docs, on_disk, out_dir)
    emitted = emitted_spans(spark, out_dir).toPandas()
    assert _micr_set(emitted.to_dict("records")) == want | {
        (null_ref, "micr:error", "decode: missing image payload")}
    # a string image column (base64 text, not bytes) on the direct path:
    # one decode error span per image, no failed task
    text_part = str(tmp_path / "text_media.parquet")
    pq.write_table(pa.table({
        "media_ref": list(rows["media_ref"]),
        "format": list(rows["format"]),
        "image": ["iVBORw0KGgo=" for _ in range(len(rows))],
    }), text_part)
    text_media = spark.read.parquet(text_part)
    assert P._choose_media_strategy(text_media) == "direct"
    got = _micr_set(extract_spans(docs, text_media).collect())
    assert got == {(r, "micr:error",
                    "decode: image payload must be binary, not str")
                   for r in rows["media_ref"]}
