"""``worker_daemon``, the Python daemon of the engine's sessions: the
zip directory re-read only on change, the frozen pre-fork heap, and
workers that import the engine from any driver working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from pdf_etl_ocr_inference_spark import worker_daemon

from .conftest import REPO


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_only_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(imp)  # the first call reads

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    for _ in range(3):
        worker_daemon.invalidate_caches(imp)
        # a second importer of the same archive takes the cached read
        worker_daemon.invalidate_caches(zipimport.zipimporter(archive))
    assert reads == []
    assert "wd_only_a.py" in imp._files

    _write_zip(archive, {"wd_only_a.py": "X = 1\n", "wd_only_b.py": "Y = 2\n"})
    worker_daemon.invalidate_caches(imp)
    assert reads == [archive]
    assert "wd_only_b.py" in imp._files

    os.remove(archive)  # a failed stat keeps the stock behaviour
    worker_daemon.invalidate_caches(imp)
    assert imp._files == {}


def test_rewritten_archive_member_imports_after_invalidate(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_mod_a").X == 1
        importlib.invalidate_caches()  # unchanged: no re-read
        _write_zip(archive, {"wd_mod_a.py": "X = 1\n", "wd_mod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("wd_mod_b").Y == 2
    finally:
        for name in ("wd_mod_a", "wd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def _worker_state(it):
    import gc
    import zipimport

    for _ in it:
        pass
    f = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame(
        {
            "file": [os.path.realpath(f.__code__.co_filename)],
            "name": [f.__name__],
            "frozen": [gc.get_freeze_count()],
        }
    )


def _one_task(spark):
    return (
        spark.range(0, 1, 1, 1)
        .mapInPandas(_worker_state, "file string, name string, frozen long")
        .collect()[0]
    )


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip directories lazily; the daemon patches nothing",
)
def test_workers_use_the_engine_invalidate_caches(spark):
    row = _one_task(spark)
    assert row.file == os.path.realpath(worker_daemon.__file__)
    assert row.name == "invalidate_caches"


def test_workers_fork_from_a_frozen_heap(spark):
    # pandas and pyarrow are imported and frozen before the fork
    assert _one_task(spark).frozen > 10_000


def test_python_task_runs_outside_the_repo(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import pandas as pd
        from pdf_etl_ocr_inference_spark.session import get_spark

        def where(it):
            import pdf_etl_ocr_inference_spark as pkg
            for _ in it:
                pass
            yield pd.DataFrame({{"file": [pkg.__file__]}})

        spark = get_spark(app_name="outside", master="local[1]")
        spark.sparkContext.setLogLevel("ERROR")
        rows = spark.range(0, 1, 1, 1).mapInPandas(where, "file string").collect()
        print("WORKER_PKG", rows[0].file)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(s for s in r.stdout.splitlines() if s.startswith("WORKER_PKG "))
    pkg = line.split(" ", 1)[1]
    assert os.path.realpath(pkg) == str(REPO / "pdf_etl_ocr_inference_spark" / "__init__.py")
