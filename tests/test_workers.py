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


def _rows_sha(rows) -> str:
    """sha256 of a result's rows, in sorted order."""
    import hashlib

    return hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()


def test_pandas_udf_from_another_cwd(spark, tmp_path):
    """A driver started outside the repo, with no PYTHONPATH, as a
    caller's driver would be: its workers cannot import the package.
    get_spark's daemon must still start, and every way a Python UDF
    reaches the workers must carry the package code it calls: a
    module-level function (udf_grouped_map_render's render), a helper of
    another package module (ns_mm_resize's PNG codec) and a Python data
    source class (src_python_datasource). Each key is checked against its
    oracle: the DuckDB one where the key has it, else the same key run in
    this process. A mapInPandas task then confirms the workers never see
    the package, and a `readlink` wrapper on the driver's PATH counts the
    shell commands one stream_sink_parquet call forks (its checkpoint
    files rename through FileSystem, forking none)."""
    import json
    import shutil

    from week3_2_practice_big_data__spark import REGISTRY

    from .conftest import SF_SMALL

    log = tmp_path / "readlink.log"
    log.touch()
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    wrapper = bin_dir / "readlink"
    wrapper.write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("readlink")} "$@"\n'
    )
    wrapper.chmod(0o755)
    code = f"""
import json, subprocess, sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from week3_2_practice_big_data__spark import REGISTRY, get_spark
from tests.oracle import compare, duck_run
from tests.test_workers import _rows_sha

spark = get_spark("w32bd-cwd-test")

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

out = {{"plus_one": sorted(r[0] for r in spark.range(5).select(plus_one("id")).collect())}}
for key in ("udf_grouped_map_render", "ns_mm_resize", "src_python_datasource"):
    q = REGISTRY[key]
    df = q.builder(spark, {SF_SMALL!r})
    if q.oracle is None:
        out[key] = _rows_sha(df.collect())
    else:
        compare(df, duck_run(q.oracle, {SF_SMALL!r}), key)
        out[key] = "oracle"

def probe(batches):
    import importlib.util

    for _ in batches:
        spec = importlib.util.find_spec("week3_2_practice_big_data__spark")
        yield pd.DataFrame({{"found": [spec is not None]}})

out["package on workers"] = [
    r.found for r in spark.range(2, numPartitions=2).mapInPandas(probe, "found boolean").collect()
]

def forks():
    with open({str(log)!r}) as f:
        return sum(1 for _ in f)

n0 = forks()
subprocess.run(["readlink", "."], capture_output=True)
out["wrapper forks"] = forks() - n0
n0 = forks()
REGISTRY["stream_sink_parquet"].builder(spark, {SF_SMALL!r}).collect()
out["stream_sink_parquet forks"] = forks() - n0
print(json.dumps(out))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
    )
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    assert out == {
        "plus_one": [1, 2, 3, 4, 5],
        "udf_grouped_map_render": _rows_sha(
            REGISTRY["udf_grouped_map_render"].builder(spark, SF_SMALL).collect()
        ),
        "ns_mm_resize": _rows_sha(
            REGISTRY["ns_mm_resize"].builder(spark, SF_SMALL).collect()
        ),
        "src_python_datasource": "oracle",
        "package on workers": [False, False],
        "wrapper forks": 1,
        "stream_sink_parquet forks": 0,
    }


def test_python_udf_key_leaves_no_conf_or_file(spark):
    """A Python-UDF key changes nothing on the session it runs on: no
    session conf and no file shipped to the workers (addPyFile cannot be
    undone)."""
    from week3_2_practice_big_data__spark import REGISTRY

    from .conftest import SF_SMALL

    REGISTRY["fn_hsv_to_rgb"].builder(spark, SF_SMALL).collect()
    assert spark.conf.get("spark.w32bd.pkgShipped", None) is None
    assert [f for f in spark.sparkContext.listFiles if f.endswith(".zip")] == []
