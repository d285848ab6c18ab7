"""Per-query stage metrics from Spark's in-process status store.

``StageReader.read()`` drains the listener bus, then sums shuffle-write,
memory-spill and disk-spill bytes over the stages added to the status store
since the previous call. It needs no Spark UI, no port and no polling: the
store is the one the UI would render, filled by the same listener.

Stage ids are allocated consecutively, so the stages added since the last
call must form one unbroken id range. A hole in it is a stage the store
never recorded or already evicted (``spark.ui.retainedStages``), and the
bytes of that query would be undercounted, so ``read()`` raises
``LostStageError`` instead of returning a short total.

``codegen_compiles(spark)`` reads the JVM-wide codegen compile counters
(every class Spark generates: whole-stage code, projections, predicates), so
a caller takes the classes compiled between two points as the difference of
two reads.
"""

from __future__ import annotations

FIELDS = {
    "shuffle_write": "shuffleWriteBytes",
    "mem_spill": "memoryBytesSpilled",
    "disk_spill": "diskBytesSpilled",
}


class LostStageError(RuntimeError):
    """Stages in the range read are missing from the status store."""


class StageReader:
    """Reads the stages added since its last call (or since construction)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._wrapper = spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.spark.status.StageDataWrapper",
            True,
            self._sc.getClass().getClassLoader(),
        )
        self._last = -1
        self.skip()

    def _new_stages(self) -> list:
        """StageData of every attempt of every stage with an id above the
        cursor, newest first (the store's natural order is by stage id)."""
        self._sc.listenerBus().waitUntilEmpty()
        view = self._sc.statusStore().store().view(self._wrapper).reverse()
        it = view.closeableIterator()
        out = []
        try:
            while it.hasNext():
                info = it.next().info()
                if info.stageId() <= self._last:
                    break
                out.append(info)
        finally:
            it.close()
        return out

    def skip(self) -> None:
        """Move the cursor past every recorded stage without checking them,
        e.g. after a query that failed part-way through job submission."""
        self._last = max([self._last] + [s.stageId() for s in self._new_stages()])

    def read(self) -> dict[str, int]:
        """Summed bytes and stage count of the stages added since the last
        call; raises ``LostStageError`` if any stage in that range is gone."""
        stages = self._new_stages()
        out = dict.fromkeys(FIELDS, 0)
        for s in stages:
            for key, getter in FIELDS.items():
                out[key] += getattr(s, getter)()
        ids = {s.stageId() for s in stages}
        out["n_stages"] = len(ids)
        if ids:
            first, self._last = self._last + 1, max(ids)
            lost = sorted(set(range(first, self._last + 1)) - ids)
            if lost:
                raise LostStageError(
                    f"stages {lost} of {first}..{self._last} are not in the "
                    "status store; their bytes would be missing"
                )
        return out


def codegen_compiles(spark) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling them) since the JVM
    started. Both count Janino compiles only, i.e. codegen cache misses; a
    cache hit adds nothing. The counters are JVM-global and outlive
    ``spark.stop()``."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
