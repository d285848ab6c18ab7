"""The Python worker daemon (conceptnetwork_spark/worker_daemon.py): a zip
importer re-reads its archive's directory only when the archive changed,
and get_spark launches every Python worker through it, whatever directory
the driver starts from."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from conceptnetwork_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)  # a new inode, like any rewrite-then-rename


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``cn_wd_a`` on sys.path, already imported (so
    its importer is cached), with the daemon's wrapper bound to the class
    for this test only."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"cn_wd_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    import cn_wd_a  # noqa: F401

    yield path, sys.path_importer_cache[path]
    for name in ("cn_wd_a", "cn_wd_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def _spy_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    path, _importer = zip_on_path
    reads = _spy_reads(monkeypatch)
    importlib.invalidate_caches()  # first call: the key starts empty
    assert reads.count(path) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_rewritten_archive_is_reread(zip_on_path):
    path, _importer = zip_on_path
    importlib.invalidate_caches()
    _write_zip(path, {"cn_wd_a": "X = 1\n", "cn_wd_b": "Y = 2\n"})
    importlib.invalidate_caches()
    import cn_wd_b

    assert cn_wd_b.Y == 2


def test_deleted_archive_empties_the_importer(zip_on_path):
    path, importer = zip_on_path
    importlib.invalidate_caches()
    assert importer._files
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}


def test_spark_workers_run_the_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    rows = spark.range(4).repartition(4).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {"conceptnetwork_spark.worker_daemon"}


_OTHER_CWD_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})

import pandas as pd

from conceptnetwork_spark.session import get_spark
from conceptnetwork_spark.sources.tfrecord import decode_example, encode_example

spark = get_spark(app_name="worker-daemon-cwd", master="local[2]")
got = spark.sparkContext.parallelize([1, 2, 3], 2).map(lambda x: x + 1).collect()
assert got == [2, 3, 4], got
print("lambda OK")


def decode(batches):
    for pdf in batches:
        yield pd.DataFrame({{"id": [decode_example(b)["id"][0] for b in pdf["b"]]}})


blobs = [(encode_example({{"id": i, "w": [0.5 * i]}}),) for i in range(4)]
df = spark.createDataFrame(blobs, "b binary").repartition(2)
got = sorted(r.id for r in df.mapInPandas(decode, "id long").collect())
assert got == [0, 1, 2, 3], got
print("udf OK")
"""


def test_driver_started_from_another_directory(tmp_path):
    """The package is only on the driver's sys.path and the cwd is not the
    repo: the workers must still import the daemon (or no Python task
    runs at all) and a UDF that calls into the package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD_SCRIPT],
        capture_output=True, text=True, timeout=600, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    assert "lambda OK" in proc.stdout and "udf OK" in proc.stdout
