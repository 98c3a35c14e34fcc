"""Benchmark entry point.

    python3 perfbench/run.py --workload micr_direct --seed 1 \\
        --seconds 14 --trace 0

Run from the repository root.  Prints progress to stderr and, as the
last line of stdout, one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (a layer the workload does not call reports 0); both
lists, with their units, are read from ``BENCHMARK.json``.  Inputs
are generated from ``--seed`` and cached under ``.perfbench_cache/``;
Spark's scratch space lives there too, so a run writes nothing outside
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepare_env(cache: str, cores: int) -> None:
    local = os.path.join(cache, "spark-local")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":")
                      if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={local} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it and every process
    it started have ended."""
    from pyspark import SparkContext

    from perfbench.sparkmetrics import descendants
    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = started
    while alive and time.time() < deadline:
        alive = [p for p in alive if _running(p)]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "fin_ocr_sdk_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.sparkmetrics import RssSampler
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(ROOT, ".perfbench_cache")
    _prepare_env(cache, cores)
    with RssSampler() as sampler:
        run = workloads.Run(args.workload, ROOT, args.seed, args.seconds,
                            bool(args.trace), cores, sampler)
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            run.stop()
            _shutdown_jvm()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        name, unit = m["name"], m["unit"]
        if name in run.metrics:
            value, unit = run.metrics[name]
        elif args.trace:
            value = 0.0  # a layer this workload does not call
        else:
            raise RuntimeError(f"metric {name} was not measured")
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    code = main()
    # every process this run started has ended and its output is
    # flushed; skip the interpreter's module teardown (about a second)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
