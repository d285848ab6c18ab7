"""Activation hook for the vendored pure-Python protobuf runtime.

pyspark's ``transformWithStateInPandas`` Python client speaks a protobuf
wire protocol to the JVM state server (``StateMessage_pb2``); the generated
module needs ``google.protobuf`` at import time. This container ships no
protobuf, so ``ensure_protobuf()`` falls back to the shim under
``conceptnetwork_spark/vendor/`` — implemented from the public wire-format
spec (see vendor/google/protobuf/_mini_runtime.py).

Precedence: the REAL google.protobuf always wins; the vendor path is only
added after that import fails. The vendor dir is also APPENDED (never
prepended — PYTHONPATH entries precede site-packages, so a prepend would
shadow a real protobuf shipped only in worker/executor images) to
``PYTHONPATH`` so Spark's Python WORKERS (separate processes spawned by the
JVM, which inherit the driver environment in local mode and the executor
environment on a cluster) can import the same shim — the state client runs
inside the worker, not the driver. Call before building the SparkSession
so the env var is set when the JVM launches.
"""

from __future__ import annotations

import os
import sys

_VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vendor")


def append_pythonpath(env, entry: str) -> None:
    """Append ``entry`` to ``env["PYTHONPATH"]`` unless already listed.
    APPEND, never prepend: PYTHONPATH entries precede site-packages, so a
    prepend would shadow a real installation shipped only in
    worker/executor images (a real protobuf on a cluster). The vendor dir
    stays last whatever the call order: the shim is only a fallback."""
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if entry not in parts:
        parts.append(entry)
    parts.sort(key=lambda p: p == _VENDOR_DIR)  # stable: others keep order
    env["PYTHONPATH"] = os.pathsep.join(parts)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, preferring a real installation.
    Returns True if the import works (real or shim), False if even the shim
    is unusable. Idempotent."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if _VENDOR_DIR not in sys.path:
        sys.path.append(_VENDOR_DIR)
    append_pythonpath(os.environ, _VENDOR_DIR)
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def shim_zip() -> str:
    """Path of a zip of the vendored ``google/`` package's ``.py`` files,
    built on first use. The name carries a hash of their relative paths and
    bytes, so a zip left by an older checkout is never shipped for a newer
    vendor tree."""
    import hashlib
    import tempfile
    import uuid
    import zipfile

    files = []
    for root, dirs, names in os.walk(os.path.join(_VENDOR_DIR, "google")):
        dirs.sort()
        for fn in sorted(names):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    files.append((os.path.relpath(full, _VENDOR_DIR), f.read()))
    h = hashlib.sha256()
    for rel, data in files:
        h.update(b"%s\0%d\0" % (rel.encode(), len(data)))
        h.update(data)
    zpath = os.path.join(
        tempfile.gettempdir(), f"cn_spark_protoshim-{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{uuid.uuid4().hex[:8]}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, data in files:
                z.writestr(rel, data)
        os.replace(tmp, zpath)  # atomic: concurrent sessions see whole files
    return zpath


def ship_to_workers(spark) -> None:
    """Make the shim importable inside Spark's Python WORKERS even when the
    JVM launched before ``ensure_protobuf()`` exported PYTHONPATH (e.g. a
    harness that built its own SparkSession first): ``addPyFile`` the zip of
    the vendored ``google/`` package — py-files land on worker
    ``sys.path`` in every deploy mode, local or cluster. No-op when the
    real protobuf runtime is installed. Idempotent per session."""
    import google.protobuf as gp

    if _VENDOR_DIR not in os.path.abspath(gp.__file__):
        return  # real runtime present — workers resolve it themselves
    sc = spark.sparkContext
    if getattr(sc, "_cn_protoshim_shipped", False):
        return
    sc.addPyFile(shim_zip())
    # addPyFile covers task workers (userFiles on sys.path), but the
    # STREAMING python runners (transformWithStateInPandas driver worker,
    # foreachBatch) are launched by the JVM with PYTHONPATH built from the
    # python function's envVars — which pyspark populates from
    # sc.environment. Mutating it here reaches every worker created after
    # this call, even when the JVM env predates ensure_protobuf().
    append_pythonpath(sc.environment, _VENDOR_DIR)
    sc._cn_protoshim_shipped = True
