"""Python workers fork from ``dggstools_spark.worker_daemon``, whose zip
importers re-read an archive only when it changed (CLAUDE.md constraint
23), and ``get_spark`` sessions run the package's UDFs from any cwd."""

import importlib.util
import json
import os
import signal
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from dggstools_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_run_patched_daemon(spark):
    @F.pandas_udf("string")
    def reread_by(x: pd.Series) -> pd.Series:
        import zipimport
        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(x))

    rows = spark.range(0, 8, 1, 2).select(reread_by("id").alias("m")).distinct().collect()
    assert [r.m for r in rows] == ["dggstools_spark.worker_daemon"]


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"mod_a.py": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    worker_daemon.invalidate_caches(importer)  # first call stamps the archive

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_daemon.invalidate_caches(importer)
    assert _load(importer, "mod_a").X == 1
    assert reads == []

    _write_zip(archive, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    worker_daemon.invalidate_caches(importer)
    assert _load(importer, "mod_b").Y == 2
    assert reads == [str(archive)]


CHILD = r"""
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from dggstools_spark.functions.encode import cellid_from_lonlat_udf
from dggstools_spark.session import get_spark

spark = get_spark("worker-cwd")

@F.pandas_udf("long")
def plus_one(x: pd.Series) -> pd.Series:
    return x + 1

pts = spark.createDataFrame([(10.0, 20.0), (-70.5, -33.4)], "lon double, lat double")
out = {{
    "cellid": [r.c for r in pts.select(cellid_from_lonlat_udf(6)("lon", "lat").alias("c")).collect()],
    "plain": [r.y for r in spark.range(3).select(plus_one("id").alias("y")).collect()],
}}
print("ROWS:" + json.dumps(out), flush=True)
spark.stop()
"""


def test_get_spark_udfs_run_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.Popen([sys.executable, "-c", CHILD.format(repo=REPO)], cwd=tmp_path,
                            env=env, text=True, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=180)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the JVM too
        proc.communicate()
        raise AssertionError("child session did not finish within 180 s")
    lines = [line for line in out.splitlines() if line.startswith("ROWS:")]
    assert lines, f"child exited {proc.returncode}: {out[-500:]}"
    rows = json.loads(lines[0][len("ROWS:"):])
    assert len(rows["cellid"]) == 2 and all(c and c[0] in "NOPQRS" for c in rows["cellid"])
    assert sorted(rows["plain"]) == [1, 2, 3]
