"""spark-submit entry point for the MICR-extraction pipeline.

The north rule's deployment shape is ``spark-submit --py-files`` on a
multi-executor cluster.  This script is that job:

    python scripts/package_pyfiles.py                  # build the zip
    spark-submit --master <cluster> \\
        --py-files build/fin_ocr_sdk_spark.zip \\
        scripts/submit_extract.py \\
        --input-dir /data/corpus --out /data/out [--resumable]

Reads documents.parquet + media.parquet under --input-dir, runs
extract_spans (or the lineage-committed resumable variant), writes the
ordered span table to --out/spans, and prints one JSON status line.
No repo-path imports: everything comes from the shipped zip (or an
installed package), exactly as on a real cluster.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--resumable", action="store_true",
                    help="commit per-partition lineage and resume from "
                         "any prior committed run under --out; the media "
                         "table must be unfiltered (a bare read of "
                         "media.parquet, as this script does)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit owns master/deploy config; only job-level tuning here
    builder = SparkSession.builder.appName("fin-ocr-extract")
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(args.shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from fin_ocr_sdk_spark.plans.pipeline import extract_spans

    docs = spark.read.parquet(os.path.join(args.input_dir,
                                           "documents.parquet"))
    media = spark.read.parquet(os.path.join(args.input_dir,
                                            "media.parquet"))
    t0 = time.time()
    if args.resumable:
        from fin_ocr_sdk_spark.plans.lineage import (assemble_output,
                                                     emitted_spans,
                                                     run_resumable_extract)
        stats = run_resumable_extract(spark, docs, media, args.out)
        out = assemble_output(docs, emitted_spans(spark, args.out))
        extra = {"scanned_files": stats.scanned_files,
                 "skipped_files": stats.skipped_files}
    else:
        out = extract_spans(docs, media)
        extra = {}
    spans_path = os.path.join(args.out, "spans")
    out.write.mode("overwrite").parquet(spans_path)
    n = spark.read.parquet(spans_path).count()
    print("RESULT " + json.dumps({
        "rows": n, "out": spans_path,
        "wall_sec": round(time.time() - t0, 2), **extra}))
    spark.stop()


if __name__ == "__main__":
    main()
