"""Resumable extraction with per-partition lineage (north rule).

Unit of work = one media part file.  The media table must be an
UNFILTERED file-backed table (a bare ``spark.read`` of its part files):
only then does each part file hold exactly the table's rows, and the
file list is the one the direct scan slices (``pipeline._media_files``).
Any other media plan — filtered, derived (e.g. base64-decoded) or
in-memory — raises ValueError before a span file is written.  Each
completed unit appends a lineage row

    (partition_id, media_file, doc_count, span_count, checksum,
     run_id, wall_ms)

and its emitted spans land in their own parquet file named by the
partition id.  A span file is visible ONLY through its lineage row, so
a run killed mid-flight leaves at most orphan span files that the
reader never picks up.  Re-running diffs the committed work on the
driver: the pending files are the media file list (which
``_media_files`` already holds there) minus the lineage table's
``media_file`` values, and only those are scanned, as whole-file units
striped by the direct scan's unit planner (``pipeline._planned_units``).
(On a real deployment both tables are Iceberg and the span+lineage
append is one atomic snapshot commit; the parquet stand-in keeps the
same protocol with lineage-last ordering.)

The reference has no notion of this — it is request-scoped
(src/context.ts) — but the slow/hung-request accounting it does keep
(src/config.ts:47-49) maps to the wall_ms column here.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..session import pin_worker_threads
from .pipeline import (MEDIA_SCAN_SCHEMA, _direct_media_rows, _media_files,
                       _planned_units, broadcast_templates, explode_spans,
                       interleave, scan_rows)

LINEAGE_SCHEMA = StructType([
    StructField("partition_id", StringType()),
    StructField("media_file", StringType()),
    StructField("doc_count", LongType()),
    StructField("span_count", LongType()),
    StructField("checksum", StringType()),
    StructField("run_id", StringType()),
    StructField("wall_ms", LongType()),
])


def _partition_id(media_file: str) -> str:
    return hashlib.sha1(media_file.encode()).hexdigest()[:16]


def make_lineage_kernel(out_dir: str, run_id: str, spark: SparkSession):
    """mapInPandas kernel over whole-file units (path, 0, 1): scan
    each media file, write its emitted spans to
    <out>/spans/<partition_id>.parquet, return the lineage row.  The
    span write happens BEFORE the lineage row is returned (lineage-last
    commit protocol)."""
    bc = broadcast_templates(spark)
    spans_dir = os.path.join(out_dir, "spans")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pin_worker_threads()
        import pyarrow as pa
        import pyarrow.parquet as papq
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(MEDIA_SCAN_SCHEMA)
        os.makedirs(spans_dir, exist_ok=True)
        for pdf in batches:
            rows = {k: [] for k in ("partition_id", "media_file",
                                    "doc_count", "span_count", "checksum",
                                    "run_id", "wall_ms")}
            for path in pdf["path"]:
                t0 = time.time()
                # images stream by record batch (a 1 GB part never
                # becomes a 1 GB Arrow table); only the text spans stay
                out = list(scan_rows(_direct_media_rows(path, 0, 1),
                                     bc.value))
                h = hashlib.sha256()
                for ref, _, kind, text in out:
                    h.update(f"{ref}\x00{kind}\x00{text}\x01".encode())
                pid = _partition_id(path)
                span_path = os.path.join(spans_dir, f"{pid}.parquet")
                tmp_path = span_path + f".tmp-{run_id}"
                papq.write_table(pa.Table.from_pylist(
                    [dict(zip(arrow_schema.names, r)) for r in out],
                    schema=arrow_schema), tmp_path)
                os.replace(tmp_path, span_path)  # atomic on posix
                rows["partition_id"].append(pid)
                rows["media_file"].append(path)
                # every image yields exactly one sub_order-1 span
                rows["doc_count"].append(sum(r[1] == 1 for r in out))
                rows["span_count"].append(len(out))
                rows["checksum"].append(h.hexdigest()[:32])
                rows["run_id"].append(run_id)
                rows["wall_ms"].append(int((time.time() - t0) * 1000))
            yield pd.DataFrame(rows)

    return kernel


@dataclass
class ExtractRunResult:
    run_id: str
    scanned_files: int
    skipped_files: int
    doc_count: int
    span_count: int


def committed_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = os.path.join(out_dir, "lineage")
    if not os.path.isdir(path) or not os.listdir(path):
        return None
    # the schema is known: a bare read would infer it in a Spark job
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def run_resumable_extract(spark: SparkSession, documents: DataFrame,
                          media: DataFrame, out_dir: str,
                          run_id: str | None = None) -> ExtractRunResult:
    """Scan every media file not yet committed to the lineage table;
    idempotent and restart-safe.  Returns run stats.  Raises ValueError,
    before anything is written, unless media is an unfiltered
    file-backed table (see the module docstring)."""
    files = _media_files(media)
    if files is None:
        raise ValueError(
            "resumable extract requires an unfiltered file-backed media "
            "table (a bare spark.read of its part files)")
    run_id = run_id or uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)
    lineage = committed_lineage(spark, out_dir)
    done = (set() if lineage is None else
            {r[0] for r in lineage.select("media_file").distinct().collect()})
    pending = [(p, 0, 1, size) for p, size in files if p not in done]
    if pending:
        # lineage-last: the append below only happens after every span
        # file in this run has been atomically renamed into place.
        # repartition(1), not coalesce(1): coalesce would fold the scan
        # into a single task, while the shuffle keeps the scan's tasks
        # and runs the lineage write as a later stage
        (_planned_units(spark, pending)
         .mapInPandas(make_lineage_kernel(out_dir, run_id, spark),
                      LINEAGE_SCHEMA)
         .repartition(1)
         .write.mode("append").parquet(os.path.join(out_dir, "lineage")))
    lineage = committed_lineage(spark, out_dir)
    assert lineage is not None
    agg = lineage.agg(F.sum("doc_count"), F.sum("span_count")).first()
    return ExtractRunResult(
        run_id=run_id,
        scanned_files=len(pending),
        skipped_files=len(files) - len(pending),
        doc_count=int(agg[0] or 0),
        span_count=int(agg[1] or 0),
    )


def emitted_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed emitted spans: ONLY span files with lineage rows
    are read (orphans from failed runs stay invisible).

    Commit membership is enforced with a distributed semi-join on the
    partition id recovered from each span file's name — no driver-side
    collect of the lineage table (millions of rows at 10^12-doc scale).
    Uncommitted ``<pid>.parquet`` orphans may be *opened* by the scan
    but every row they contribute is dropped by the semi-join."""
    lineage = committed_lineage(spark, out_dir)
    if lineage is None:
        raise FileNotFoundError(f"no committed lineage under {out_dir}")
    spans_dir = os.path.join(out_dir, "spans")
    # ignoreCorruptFiles: committed files are complete by construction
    # (tmp-write + atomic rename, lineage-last); the only partial or
    # foreign *.parquet here is an uncommitted orphan, which must not
    # fail the read — the semi-join drops its rows anyway, and the
    # lineage checksum column audits committed-file integrity
    all_spans = (spark.read.schema(MEDIA_SCAN_SCHEMA)
                 .option("pathGlobFilter", "*.parquet")  # skip .tmp-*
                 .option("ignoreCorruptFiles", "true")
                 .parquet(spans_dir)
                 .withColumn("partition_id",
                             F.regexp_extract(F.input_file_name(),
                                              r"([0-9a-f]+)\.parquet$", 1)))
    return (all_spans
            .join(lineage.select("partition_id").distinct(),
                  "partition_id", "semi")
            .drop("partition_id"))


def assemble_output(documents: DataFrame, emitted: DataFrame) -> DataFrame:
    """Final interleaved span table from originals + committed emitted
    spans (the same tail as pipeline.extract_spans)."""
    return interleave(explode_spans(documents), emitted)
