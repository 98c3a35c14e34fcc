"""The python-worker daemon module: its zipimporter cache patch, that
get_spark sessions run tasks under it, and that it starts from any
driver working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from fin_ocr_sdk_spark import _worker_daemon as D

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_changed_archives(tmp_path,
                                                         monkeypatch):
    archive = str(tmp_path / "probe.zip")
    mod_a, mod_b = "_fin_zip_probe_a", "_fin_zip_probe_b"
    _write_zip(archive, [mod_a])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        D.invalidate_caches_if_changed)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(mod_a).NAME == mod_a
        importlib.invalidate_caches()  # records the archive's stamp

        reads = []
        orig = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return orig(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, [mod_a, mod_b])  # grows: the stamp changes
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(mod_b).NAME == mod_b
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        sys.modules.pop(mod_a, None)
        sys.modules.pop(mod_b, None)


def test_get_spark_tasks_run_under_the_daemon_patch():
    from fin_ocr_sdk_spark.session import get_spark
    spark = get_spark("pytest-daemon", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        def probe(_):
            import zipimport
            yield zipimport.zipimporter.invalidate_caches.__name__

        got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(
            probe).collect()
        assert got == ["invalidate_caches_if_changed"] * 2
    finally:
        spark.stop()


def test_get_spark_runs_python_udfs_from_outside_the_repo(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from fin_ocr_sdk_spark.session import get_spark
        spark = get_spark("pytest-daemon-cwd", master="local[1]")
        spark.sparkContext.setLogLevel("ERROR")
        plus_one = F.udf(lambda x: x + 1, "long")
        rows = spark.range(3).select(plus_one("id").alias("y")).collect()
        print("RESULT", sorted(r.y for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert "RESULT [1, 2, 3]" in res.stdout, res.stderr[-3000:]
