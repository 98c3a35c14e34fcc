"""The workloads, each driven as a closed loop: one client, one Spark
job at a time, on ``local[cores]``.

Every workload follows the same shape:

1. inputs from the seed (cached; never timed);
2. one set-up: session start, template build/broadcast and a warm-up
   pass; ``setup_s`` is its wall time;
3. the timed job, repeated until ``seconds`` have passed (at least
   once); ``job_s`` is the median repetition;
4. output checks after every repetition, outside the timed interval and
   after the repetition's memory peak is read.

With ``trace`` on, the job runs once with its Spark jobs tagged, the
stage metrics are read back from the monitoring REST API.
``micr_direct``'s traced run also drives the resumable path
(``plans.lineage``) over its corpus, and a single-process traced run
over a fixed subset of its images gives the per-image split (see
:mod:`perfimage`).  Layers a workload does not call report 0.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
import traceback

from . import checks, corpus
from .sparkmetrics import SparkRest, job_stages, stage_summary


QUERY_SUITE = (
    "pricing_summary", "top_orders_per_customer", "dedup_exact",
    "minhash_dedup", "simhash", "ann_cosine_topk", "sequence_packing",
    "corpus_stats", "ngram_jaccard_pairs", "embedding_near_dup",
)

MICR_DIRECT_DOCS = 256


class Run:
    """State shared by one benchmark run."""

    def __init__(self, workload: str, root: str, seed: int, seconds: float,
                 trace: bool, cores: int, sampler) -> None:
        self.workload = workload
        self.root = root
        self.cache = os.path.join(root, ".perfbench_cache")
        self.scratch = os.path.join(self.cache, f"run-{os.getpid()}")
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.sampler = sampler
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.t_start = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t_start:7.2f}s "
              f"{msg}", file=sys.stderr, flush=True)

    # -------------------------------------------------------- session

    def start_session(self) -> float:
        from fin_ocr_sdk_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def build_templates(self) -> float:
        """Build the template pack and broadcast it, as every MICR job
        does once on the driver."""
        from fin_ocr_sdk_spark.operators.classify import TemplateSet
        t0 = time.perf_counter()
        bc = self.spark.sparkContext.broadcast(TemplateSet.build())
        dt = time.perf_counter() - t0
        bc.destroy()
        return dt

    def setup(self, warm) -> None:
        """Session start, template build/broadcast and ``warm()``; the
        sum is ``setup_s``.  Measured once per run: a second set-up in
        the same process would reuse the started JVM and its compiled
        code, so it would not measure the same thing."""
        s = self.start_session()
        t = self.build_templates()
        t0 = time.perf_counter()
        warm()
        w = time.perf_counter() - t0
        self.log(f"setup session {s:.2f}s templates {t:.2f}s warm {w:.2f}s")
        self.put("setup_s", s + t + w, "s")
        self.put("setup.session_s", s, "s")
        self.put("setup.templates_s", t, "s")
        self.put("setup.warm_s", w, "s")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.scratch, ignore_errors=True)

    # -------------------------------------------------------- results

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def tagged(self, description: str):
        self.spark.sparkContext.setJobDescription(description)

    def loop(self, rep, check) -> list[dict]:
        """Call ``rep(k)`` until ``seconds`` have passed (at least once;
        exactly once under trace).  ``rep`` returns (job seconds,
        output); ``check(output)`` returns (attempted, failed, docs) and
        runs after the repetition's memory peak is read."""
        out = []
        t0 = time.perf_counter()
        while True:
            self.sampler.reset()
            job_s, output = rep(len(out))
            peak = self.sampler.peak_mb
            attempted, failed, docs = check(output)
            r = {"job_s": job_s, "peak_rss_mb": peak, "attempted": attempted,
                 "failed": failed, "docs": docs}
            self.attempted += attempted
            self.failed += failed
            out.append(r)
            self.log(f"rep {len(out)}: {r['job_s']:.3f}s, "
                     f"{r['failed']}/{r['attempted']} failed")
            if self.trace or time.perf_counter() - t0 >= self.seconds:
                return out

    def put_loop_metrics(self, reps: list[dict]) -> None:
        med = statistics.median
        self.put("job_s", med(r["job_s"] for r in reps), "s")
        self.put("docs_per_s", med(r["docs"] / r["job_s"] for r in reps),
                 "docs/s")
        self.put("peak_rss_mb", med(r["peak_rss_mb"] for r in reps), "MB")


def _safe(fn):
    """Run one timed job; returns its result, or None when it raised.
    A raised job is a failed job: reported, never fatal to the run."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 — boundary: count and report
        traceback.print_exc()
        return None


def _media_parts(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "media.parquet", "*.parquet")))


# ------------------------------------------------------------ micr_direct

def micr_direct(run: Run) -> None:
    from fin_ocr_sdk_spark.plans.pipeline import extract_spans
    dirs = corpus.check_corpus(run.cache, run.seed, MICR_DIRECT_DOCS,
                               workers=run.cores)
    main, warm = dirs["main"], dirs["warm"]
    expected = checks.expected_by_doc(
        os.path.join(main, "expected_spans.parquet"))
    run.log("inputs ready")

    def read(d):
        sp = run.spark
        return (sp.read.parquet(os.path.join(d, "documents.parquet")),
                sp.read.parquet(os.path.join(d, "media.parquet")))

    def warm_pass():
        docs, media = read(warm)
        extract_spans(docs, media).collect()

    run.setup(warm_pass)
    docs, media = read(main)
    plan_s: list[float] = []

    def rep(k):
        run.tagged(f"perfbench.micr_direct.{k}")
        t0 = time.perf_counter()

        def job():
            out = extract_spans(docs, media)
            plan_s.append(time.perf_counter() - t0)
            return out.collect()

        rows = _safe(job)
        return time.perf_counter() - t0, rows

    def check(rows):
        if rows is None:
            return MICR_DIRECT_DOCS, MICR_DIRECT_DOCS, 0
        failed, n_docs = checks.failed_images(rows, expected)
        return MICR_DIRECT_DOCS, failed, n_docs

    reps = run.loop(rep, check)
    if not run.trace:
        run.put_loop_metrics(reps)
        return
    rest = SparkRest(run.spark.sparkContext)
    summ = stage_summary(rest, job_stages(rest, "perfbench.micr_direct.0"),
                         run.cores)
    run.put("pipeline.plan_s", statistics.median(plan_s), "s")
    _put_scan_stage(run, "pipeline", summ)
    run.put("pipeline.scan_task_s.p50", summ.get("scan_task_s.p50", 0), "s")
    run.put("pipeline.scan_task_s.max", summ.get("scan_task_s.max", 0), "s")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        run.put(f"pipeline.{k}", summ[k], "bytes")
    run.put("pipeline.gc_s", summ["gc_s"], "s")
    _lineage_cycle(run, main, expected)
    from .perfimage import per_image
    per_image(run, _media_parts(main))


def _put_scan_stage(run: Run, prefix: str, summ: dict) -> None:
    run.put(f"{prefix}.scan_tasks", summ.get("scan_tasks", 0), "count")
    run.put(f"{prefix}.scan_busy_frac", summ.get("scan_busy_frac", 0),
            "ratio")


# ------------------------------------------------------- plans.lineage

def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs)


def _lineage_cycle(run: Run, main: str, expected: dict) -> None:
    """Per-layer readout of the resumable path on the workload's corpus:
    commit the first half of the part files with
    ``run_resumable_extract``, then resume over the whole table and
    ``assemble_output``.  Records ``lineage.*``; the assembled output is
    checked like the direct job's."""
    from fin_ocr_sdk_spark.plans.lineage import (assemble_output,
                                                 emitted_spans,
                                                 run_resumable_extract)
    sp = run.spark
    parts = _media_parts(main)
    committed = parts[:len(parts) // 2]
    docs = sp.read.parquet(os.path.join(main, "documents.parquet"))
    media = sp.read.parquet(os.path.join(main, "media.parquet"))
    out = os.path.join(run.scratch, "lineage")
    run.tagged("perfbench.lineage.commit")
    run_resumable_extract(sp, docs, sp.read.parquet(*committed), out)
    base_bytes = _dir_bytes(out)
    run.tagged("perfbench.lineage.run")
    t0 = time.perf_counter()
    res = run_resumable_extract(sp, docs, media, out)
    t1 = time.perf_counter()
    run.tagged("perfbench.lineage.assemble")
    rows = assemble_output(docs, emitted_spans(sp, out)).collect()
    t2 = time.perf_counter()
    failed, _ = checks.failed_images(rows, expected)
    # the anti-join must skip exactly the committed half
    if (res.skipped_files != len(committed)
            or res.scanned_files != len(parts) - len(committed)):
        failed = len(expected)
    run.attempted += len(expected)
    run.failed += failed
    rest = SparkRest(sp.sparkContext)
    _put_scan_stage(run, "lineage", stage_summary(
        rest, job_stages(rest, "perfbench.lineage.run"), run.cores))
    run.put("lineage.run_s", t1 - t0, "s")
    run.put("lineage.assemble_s", t2 - t1, "s")
    run.put("lineage.files_scanned", res.scanned_files, "count")
    run.put("lineage.files_skipped", res.skipped_files, "count")
    run.put("lineage.bytes_written", _dir_bytes(out) - base_bytes, "bytes")


# ---------------------------------------------------------- train_queries

def train_queries(run: Run) -> None:
    import __spark_entry__ as entry
    sf_dir = corpus.train_tables(run.cache, run.seed)
    qs = entry.queries()
    # every expected frame is fetched, and DuckDB closed, before the
    # session starts, so the checker's memory stays out of peak_rss_mb
    expected = checks.oracle_frames(sf_dir, QUERY_SUITE, run.cores)
    run.log("inputs ready")

    def suite(tag: str) -> tuple[float, dict, dict]:
        """Run every query once, collecting its rows; returns (wall
        seconds, results, per-query seconds).  A raised query's result
        is None."""
        results, per = {}, {}
        t0 = time.perf_counter()
        for name in QUERY_SUITE:
            run.tagged(f"perfbench.query.{tag}.{name}")
            q0 = time.perf_counter()
            results[name] = _safe(
                lambda: qs[name](run.spark, sf_dir).toPandas())
            per[name] = time.perf_counter() - q0
        return time.perf_counter() - t0, results, per

    def failures(results: dict) -> int:
        return sum(1 for name, got in results.items()
                   if got is None
                   or not checks.frames_equal(got, expected[name]))

    warm: list[dict] = []
    run.setup(lambda: warm.append(suite("warm")[1]))
    run.attempted += len(QUERY_SUITE)
    run.failed += failures(warm[0])
    per_q: list[dict] = []

    def rep(k):
        dt, results, per = suite(f"timed{k}")
        per_q.append(per)
        return dt, results

    def check(results):
        return len(QUERY_SUITE), failures(results), corpus.N_DOCUMENTS

    reps = run.loop(rep, check)
    if not run.trace:
        run.put_loop_metrics(reps)
        return
    rest = SparkRest(run.spark.sparkContext)
    for name in QUERY_SUITE:
        summ = stage_summary(
            rest, job_stages(rest, f"perfbench.query.timed0.{name}"),
            run.cores)
        run.put(f"query.{name}.s", per_q[0][name], "s")
        run.put(f"query.{name}.shuffle_bytes",
                summ["shuffle_write_bytes"], "bytes")
        run.put(f"query.{name}.spill_bytes", summ["spill_bytes"], "bytes")


WORKLOADS = {"micr_direct": micr_direct, "train_queries": train_queries}
