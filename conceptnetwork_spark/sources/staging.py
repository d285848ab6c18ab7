"""Fixture staging: the one policy for where a staged fixture lives, when it
is rebuilt and how it is published.

- A stage is the directory ``<tempdir>/cn_stage_<name>``; a stage built from
  an sf dir is ``cn_stage_<name>_<basename>_<fingerprint>``, where the
  fingerprint hashes the names, sizes and mtimes of everything under that
  dir. Regenerated testdata, or another dir with the same basename, gets its
  own stage instead of replaying stale rows.
- A stage that exists is complete and is returned as is.
- A missing stage is built by ``build(tmp)`` into a fresh
  ``<stage>.<uuid>.tmp`` directory and published by one ``os.rename``. A
  build that raises publishes nothing. If the rename fails because a
  concurrent stager published first, the winner's stage is returned; any
  other failed publish raises.

Per-run output (stream checkpoints, sink dirs, model round trips) is not a
stage: it goes to ``scratch_dir``, under the session's own temp dir, and is
gone when the session stops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable


def oracle_sf_dir() -> str:
    """SINGLE source of truth for the sf dir the ORACLE runs at: the
    dedicated override wins, else the pytest harness's test-sf override,
    else the driver default. Resolved lazily at oracle-request time so a
    test that only sets SPARK_GRAFT_TEST_SF cannot diverge from the path
    embedded in the oracle SQL."""
    return (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or os.environ.get("SPARK_GRAFT_TEST_SF")
        or "/root/testdata/sf0.01"
    )


def fingerprint(sf_dir: str) -> str:
    """Short content fingerprint (names, sizes, mtimes of every file under
    sf_dir). Cached per-process: stage dirs must not flap mid-session if
    the driver regenerates data underneath."""
    cached = _SF_FP_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    h = hashlib.md5()
    try:
        for name in sorted(os.listdir(sf_dir)):
            p = os.path.join(sf_dir, name)
            if os.path.isdir(p):
                for root, _dirs, files in sorted(os.walk(p)):
                    for fn in sorted(files):
                        st = os.stat(os.path.join(root, fn))
                        h.update(f"{name}/{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
            else:
                st = os.stat(p)
                h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError:
        pass
    fp = h.hexdigest()[:10]
    _SF_FP_CACHE[sf_dir] = fp
    return fp


_SF_FP_CACHE: dict[str, str] = {}


def stage_path(name: str, sf_dir: str | None = None) -> str:
    """Where the stage ``name`` (built from ``sf_dir``, if any) lives."""
    if sf_dir is not None:
        name = f"{name}_{os.path.basename(sf_dir.rstrip('/'))}_{fingerprint(sf_dir)}"
    return os.path.join(tempfile.gettempdir(), f"cn_stage_{name}")


def staged(name: str, build: Callable[[str], None], sf_dir: str | None = None) -> str:
    """The published stage dir for ``name``, built by ``build(tmp)`` if it
    does not exist yet."""
    path = stage_path(name, sf_dir)
    if os.path.exists(path):
        return path
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    os.makedirs(tmp)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise
    return path


def scratch_dir(spark, prefix: str) -> str:
    """A fresh, empty ``<SparkFiles root>/cn_scratch/<prefix>_<uuid8>``.

    The SparkFiles root is the SparkContext's own temp dir, which
    ``spark.stop()`` and the JVM shutdown hook delete, so nothing written
    here outlives its session. It is resolved on every call because a new
    session in the same process gets a new root."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    path = os.path.join(root, "cn_scratch", f"{prefix}_{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def order_by_mtime(paths: list[str]) -> None:
    """Give ``paths`` strictly ascending mtimes, one second apart and ending
    now, so the file stream source (oldest modified first) replays them in
    list order."""
    now = time.time()
    for i, p in enumerate(paths):
        t = now - (len(paths) - 1 - i)
        os.utime(p, (t, t))
