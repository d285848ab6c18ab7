"""The session catalog (``catalog.py::catalog``): one ``Catalog`` per session
and sf dir, each table re-read when its file changes, the ANN indexes kept
under the same rule, and no other place in the package or the tools that
constructs a ``Catalog``."""

import ast
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from conceptnetwork_spark import registry
from conceptnetwork_spark.catalog import catalog
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(spark, name, sf_dir):
    return [tuple(r) for r in registry.queries()[name](spark, sf_dir).collect()]


def _permuted_embeddings(src: str):
    """The embeddings table with each vector's components permuted: the
    same schema, different neighbours."""
    t = pq.read_table(src)
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    perm = np.random.default_rng(7).permutation(vecs.shape[1])
    col = pa.array(list(vecs[:, perm]), t.schema.field("embedding").type)
    return t.set_column(t.schema.get_field_index("embedding"), "embedding", col)


def test_ann_indexes_follow_an_in_place_rewrite(spark, tmp_path):
    """An embeddings file rewritten in place is indexed again: the session
    that already built the PQ and IVF indexes on the old vectors returns
    the rows of a corpus that was only ever written with the new ones. (A
    permutation keeps every cosine, so only a stale index changes rows.)"""
    rewritten, fresh = tmp_path / "rewritten", tmp_path / "fresh"
    rewritten.mkdir()
    fresh.mkdir()
    src = os.path.join(SF_SMOKE, "embeddings.parquet")
    shutil.copy(src, rewritten / "embeddings.parquet")
    ann = ("d30_pq_ann", "d30_ivf_ann")
    for q in ann:  # builds both indexes on the old vectors
        _rows(spark, q, str(rewritten))

    new = _permuted_embeddings(src)
    pq.write_table(new, rewritten / "embeddings.parquet")
    pq.write_table(new, fresh / "embeddings.parquet")
    for q in ann:
        assert _rows(spark, q, str(rewritten)) == _rows(spark, q, str(fresh)), q


def test_table_rewritten_at_the_same_path_is_reread(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    first = catalog(spark, str(tmp_path)).region
    assert first.count() == 2
    assert catalog(spark, str(tmp_path)).region is first

    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), path)
    again = catalog(spark, str(tmp_path)).region
    assert again is not first and again.count() == 3


def test_new_session_gets_its_own_catalog(spark):
    other = spark.newSession()
    ours, theirs = catalog(spark, SF_SMOKE), catalog(other, SF_SMOKE)
    assert ours is catalog(spark, SF_SMOKE) and theirs is not ours
    assert theirs.orders is not ours.orders
    assert theirs.orders.sparkSession is other


_RESTART_SCRIPT = """
import sys
from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.session import get_spark

sf = sys.argv[1]
first = get_spark(app_name="catalog-restart", master="local[1]")
cat, region = catalog(first, sf), catalog(first, sf).region
first.stop()
second = get_spark(app_name="catalog-restart", master="local[1]")
assert second is not first
assert catalog(second, sf) is not cat and catalog(second, sf).region is not region
assert catalog(second, sf).region.sparkSession is second
assert catalog(second, sf).region.count() == 5
second.stop()
print("OK")
"""


def test_restarted_session_gets_its_own_catalog():
    """Runs in its own process so it can stop and rebuild the session."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, SF_SMOKE],
        capture_output=True, text=True, timeout=600, cwd=ROOT, env=env,
    )
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-2000:]


def test_catalog_is_constructed_only_in_catalog():
    """Builders and tools open tables through ``catalog()``; a ``Catalog``
    built anywhere else would bring back a per-call cache."""
    outside = []
    for top in ("conceptnetwork_spark", "tools"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                tree = ast.parse(open(path).read())
                owner = {}
                for fdef in ast.walk(tree):
                    if isinstance(fdef, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        for node in ast.walk(fdef):
                            owner.setdefault(node, fdef.name)
                for node in ast.walk(tree):
                    f = getattr(node, "func", None)
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    if isinstance(node, ast.Call) and name == "Catalog":
                        rel = os.path.relpath(path, ROOT)
                        where = (rel, owner.get(node))
                        if where != ("conceptnetwork_spark/catalog.py", "catalog"):
                            outside.append(f"{rel}:{node.lineno}")
    assert not outside, outside
