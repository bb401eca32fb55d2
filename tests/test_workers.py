"""The engine's Python worker daemon (`pydaemon/w32bd_daemon.py`): its zip
importer patch, and that get_spark's workers run under it from any cwd."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = os.path.join(
    REPO, "week3_2_practice_big_data__spark", "pydaemon", "w32bd_daemon.py"
)


def _daemon_module():
    spec = importlib.util.spec_from_file_location("w32bd_daemon", DAEMON)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in modules.items():
            z.writestr(f"{name}.py", text)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zipimport re-reads lazily itself"
)
def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Spark-free: under the patch, an importer's invalidate_caches() re-reads
    its archive's directory once to learn the stamp, then not again while
    the file is unchanged; a rewritten archive is re-read and its new module
    imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"w32bd_zip_a": "VALUE = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )  # restored at teardown
    monkeypatch.syspath_prepend(archive)
    for name in ("w32bd_zip_a", "w32bd_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    _daemon_module().patch_zipimport()

    assert importlib.import_module("w32bd_zip_a").VALUE == 1
    importlib.invalidate_caches()  # the importer's first call learns the stamp

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"w32bd_zip_a": "VALUE = 1\n", "w32bd_zip_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("w32bd_zip_b").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_daemon_leaves_zipimport_alone_from_python_3_13(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    daemon = _daemon_module()
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        daemon.patch_zipimport()
    assert zipimport.zipimporter.invalidate_caches is original


def test_workers_run_under_the_engine_daemon(spark):
    """A task reports who owns zipimporter.invalidate_caches: the engine's
    daemon module, so get_spark's workers were forked by it."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        for _ in batches:
            yield pd.DataFrame(
                {
                    "owner": [zipimport.zipimporter.invalidate_caches.__module__],
                    "daemon": ["w32bd_daemon" in sys.modules],
                    "minor": [sys.version_info[1]],
                }
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(probe, "owner string, daemon boolean, minor int")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.daemon
        assert r.owner == ("w32bd_daemon" if r.minor < 13 else "zipimport")


def test_pandas_udf_from_another_cwd(tmp_path):
    """A driver started outside the repo: get_spark's daemon must still
    import, or every Python UDF of that driver fails."""
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from week3_2_practice_big_data__spark import get_spark

spark = get_spark("w32bd-cwd-test")

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print(sorted(r[0] for r in spark.range(5).select(plus_one("id")).collect()))
"""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1] == "[1, 2, 3, 4, 5]"
