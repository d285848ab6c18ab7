#!/usr/bin/env python3
"""The repository benchmark: one workload, timed end to end or by layer.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. One client process drives one SparkSession
on ``local[nproc]`` closed-loop: the next operation starts when the previous
one has finished. An operation is one declared query (builder, Catalyst
planning and full materialization of every column through
``queryExecution().toRdd().count()``; ``count()`` would let Catalyst prune
columns) or one dataprep stage.

A run sets up several times (the median is ``setup_s``), makes a cold pass
in frozen order and checks every output of it, then makes one unmeasured
warm-up pass and a fixed number of measured warm passes per second of
``--seconds`` (``PASSES_PER_S``), each in a fresh order drawn from
``--seed``. ``--trace 1`` makes its measured passes (at least six) in pairs of
one untraced and one traced pass: traced passes record spans around the calls
into each layer and read Spark's own metrics afterwards, and the pairs give
the tracing overhead.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it holds the run's settings and
details. The query workloads read the tables under ``perfbench/data``; every
file of a run, the generated dataprep input included, is written under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Copies of the repository's seed-42 test tables (TESTDATA.md), so that a run
# reads nothing outside its checkout.
DATA = os.path.join(HERE, "data")

WORKLOADS = ("relational", "llm_ops", "stream_state", "concept_dataprep")
SETUP_REPS = 5
# Warm passes made before the measured ones and left out of every metric: the
# first pass after the cold one is still slower (JIT compilation, Python
# workers of the later stages) on both workloads.
WARMUP_PASSES = 1
# Measured warm passes per second of --seconds. concept_dataprep makes more:
# a pass gives it only three samples, one short (parquet dataprep) and two
# long (TFRecord write, read-back), and at 24 samples op_tail_s (ten samples
# beyond it) and op_p50_s both fall inside the 16 long ones instead of on the
# edge between the two kinds.
PASSES_PER_S = {"relational": 1 / 3, "llm_ops": 1 / 3, "stream_state": 1 / 3,
                "concept_dataprep": 0.9}
CALIBRATION = "numpy matmul 1000x1000, median of 5 s"

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "records_per_s": "1/s", "jvm_heap_live_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_s": "s",
    "catalog.table_open_s": "s", "catalog.table_s": "s", "catalog.table_calls": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.tasks": "count",
    "execute.output_rows": "count", "execute.shuffle_write_bytes": "bytes",
    "execute.shuffle_records": "count", "execute.spill_bytes": "bytes",
    "execute.scan_s": "s", "execute.agg_s": "s", "execute.sort_s": "s",
    "execute.broadcast_collect_s": "s", "execute.python_boot_s": "s",
    "execute.python_eval_s": "s",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "sources.dataprep.run_s": "s", "network.write_tfrecord_s": "s",
    "network.read_s": "s", "sources.tfrecord.read_s": "s",
    "sources.tfrecord.shards": "count", "sources.output_bytes_per_input_byte": "ratio",
    "self.operators_s": "s", "self.catalog_s": "s", "self.plan_s": "s",
    "self.execute_s": "s", "self.streaming_s": "s", "self.dataprep_s": "s",
    "jvm_peak_rss_mb": "MB", "trace.overhead_s": "s", "failed_frac": "ratio",
}
# span name -> self-time metric it adds to
SELF_TIME = {"operators": "self.operators_s", "catalog": "self.catalog_s",
             "plan.analysis": "self.plan_s", "plan.optimization": "self.plan_s",
             "plan.planning": "self.plan_s", "execute": "self.execute_s",
             "streaming": "self.streaming_s", "sources.dataprep.run": "self.dataprep_s",
             "network.write_tfrecord": "self.dataprep_s", "network.read": "self.dataprep_s",
             "sources.tfrecord.read": "self.dataprep_s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="warm-phase length: a fixed number of measured warm passes per "
                         "second (PASSES_PER_S), at least two")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", choices=("0.1", "0.001"),
                    help="scale factor of the tables under perfbench/data")
    ap.add_argument("--lines", type=int, default=16_000,
                    help="raw input lines of concept_dataprep")
    ap.add_argument("--record-expected", action="store_true",
                    help="store row counts and hashes of oracle-less queries "
                         "in expected.json instead of checking them")
    return ap.parse_args(argv)


def prepare_environment(run_dir: str, sf_dir: str) -> None:
    """Pin the session to this host's cores and keep every file the program,
    Spark and the JVM write inside the run directory. Must run before the
    JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that builds the command
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def remove_stale_runs() -> None:
    """Delete the run directories of benchmark processes no longer alive."""
    for name in os.listdir(WORK):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def calibrate() -> float:
    """Host-speed probe, reported as a before/after bracket and never used to
    rescale a number."""
    import numpy as np

    a = np.full((1000, 1000), 1.0001)
    runs = []
    for i in range(7):
        t0 = time.perf_counter()
        a @ a
        if i >= 2:
            runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def set_up(reps: int, tracer):
    """Start the session and load the registry ``reps`` times, each from
    freshly imported program modules and a new SparkContext. Returns the
    session, the query builders and the (get_spark, queries) seconds of each
    repetition; the first one also launches the JVM."""
    spark, times = None, []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        for name in [m for m in sys.modules if m.split(".")[0] == "conceptnetwork_spark"]:
            del sys.modules[name]
        with tracer.span("session") as s:
            from conceptnetwork_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
        with tracer.span("registry") as r:
            from conceptnetwork_spark import registry

            qs = registry.queries()
        times.append((tracer.duration(s), tracer.duration(r)))
        spark.sparkContext.setLogLevel("ERROR")
    return spark, qs, times


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_heap_live_mb(spark) -> float:
    """JVM heap still in use after full collections: what the session
    keeps (caches, indexes, status) once the work is done. The pauses let
    Spark's context cleaner drop the blocks of data that became unreachable
    at the previous collection."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the value at the highest percentile
    that has at least ten samples beyond it; below eleven samples no
    percentile has, and the maximum is reported as percentile 100."""
    s = sorted(values)
    if len(s) < 11:
        return s[-1], 100.0, len(s)
    return s[-11], 100.0 * (len(s) - 10) / len(s), len(s)


class Run:
    """One benchmark run: operations, checks, and what they measured."""

    def __init__(self, args, spark, qs, sf_dir: str, run_dir: str, tracer):
        from perfbench.checks import load_expected

        self.args, self.spark, self.qs = args, spark, qs
        self.sf_dir, self.run_dir, self.tracer = sf_dir, run_dir, tracer
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.cold_rows: dict[str, int] = {}
        self.expected_all = load_expected()
        self.expected = self.expected_all.setdefault(f"sf{args.sf}", {})
        self.progress: list[dict] = []
        self.layers: dict[str, float] = {}
        self.pass_no = 0
        self.records: int | None = None  # valid input records (dataprep)
        self.dataprep_sizes: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.warmup: list[dict] = []  # records of the warm-up passes
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the wall-clock phase ``name`` of the run (reported, not a
        metric): where a run's time goes, for sizing the workloads."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    # -- failures ----------------------------------------------------------
    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"pass {self.pass_no} {op}: {why}")
        print(f"# FAIL pass {self.pass_no} {op}: {why}", file=sys.stderr)

    # -- one operation -----------------------------------------------------
    def op(self, name: str, parts, traced: bool):
        """Run one operation: its parts in turn, each a (layer, build) pair
        whose ``build()`` returns a DataFrame to materialize (or None when
        the part ran eagerly). Returns (seconds, rows, df): rows summed over
        the materialized parts (None if none was), df the last part's. None
        if it raised."""
        self.attempted += 1
        try:
            if traced:
                return self._traced_op(name, parts)
            t0 = time.perf_counter()
            rows = df = None
            for _, build in parts:
                df = build()
                if df is not None:
                    rows = (rows or 0) + df._jdf.queryExecution().toRdd().count()
            return time.perf_counter() - t0, rows, df
        except Exception:  # count it, keep the run going
            self.fail(name, traceback.format_exc(limit=3).strip().splitlines()[-1])
            return None

    def _traced_op(self, name: str, parts):
        tr = self.tracer
        tr.op = f"{self.pass_no}:{name}"
        rows = df = None
        t0 = time.perf_counter()
        with tr.span("op"):
            for i, (layer, build) in enumerate(parts):
                n, df = self._traced_part(f"perfbench-{self.pass_no}-{name}-{i}", name,
                                          layer, build)
                if n is not None:
                    rows = (rows or 0) + n
        secs = time.perf_counter() - t0
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return secs, rows, df

    def _traced_part(self, group: str, name: str, layer: str, build):
        """One part of a traced operation, in a span named after its layer
        and an ``execute`` span; returns (rows, df)."""
        from perfbench.spans import job_counts, plan_metrics, plan_phases

        tr, sc = self.tracer, self.spark.sparkContext
        seen = len(self.progress)
        calls_before = tr.count("catalog")
        t0 = time.perf_counter()
        sc.setJobGroup(group + "-build", name)
        with tr.span(layer) as b:
            df = build()
        qe = df._jdf.queryExecution() if df is not None else None
        sc.setJobGroup(group + "-execute", name)
        with tr.span("execute") as e:
            rows = qe.toRdd().count() if qe is not None else None
        secs = time.perf_counter() - t0

        add = self._add_layer
        if layer == "operators":
            add("operators.build_s", tr.duration(b))
            add("operators.build_jobs", job_counts(sc, group + "-build")[0])
            add("catalog.table_calls", tr.count("catalog") - calls_before)
        else:
            add(f"{layer}_s", secs)
        if qe is not None:
            jobs, tasks = job_counts(sc, group + "-execute")
            add("execute.s", tr.duration(e))
            add("execute.jobs", jobs)
            add("execute.tasks", tasks)
            add("execute.output_rows", rows)
            for phase, (start, end) in plan_phases(qe).items():
                tr.add(f"plan.{phase}", start, end, b if start < tr.spans[e]["start"] else e)
                add(f"plan.{phase}_s", end - start)
            for k, v in plan_metrics(qe).items():
                add(k, v)
        self._drain_listener()
        for p in self.progress[seen:]:
            start = dt.datetime.fromisoformat(p["timestamp"]).timestamp()
            tr.add("streaming", start, start + p["durationMs"].get("triggerExecution", 0) / 1e3, b)
        return rows, df

    def _add_layer(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def _drain_listener(self) -> None:
        if self.listener is not None:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    # -- tracing hooks -------------------------------------------------------
    listener = None

    def start_tracing(self):
        """Wrap ``Catalog.table`` in a span and register the streaming
        listener; returns the function that undoes both."""
        from conceptnetwork_spark.catalog import Catalog
        from perfbench.spans import make_stream_listener

        original, tracer = Catalog.table, self.tracer

        def table(cat, name):
            with tracer.span("catalog"):
                return original(cat, name)

        Catalog.table = table
        self.listener = make_stream_listener(self.progress)
        self.spark.streams.addListener(self.listener)

        def stop():
            self._drain_listener()
            self.spark.streams.removeListener(self.listener)
            self.listener = None
            Catalog.table = original

        return stop

    # -- checks --------------------------------------------------------------
    def check_query(self, name: str, df, rows: int, duck) -> None:
        """Cold-pass check: oracle comparison, or stored count and hash."""
        from perfbench.checks import oracle_mismatch, result_hash

        from conceptnetwork_spark import registry

        self.cold_rows[name] = rows
        oracle = registry.REGISTRY[name].oracle
        try:
            pdf = df.toPandas()
            if oracle is not None:
                sql = oracle() if callable(oracle) else oracle
                why = oracle_mismatch(pdf, duck.execute(sql).df())
            elif self.args.record_expected:
                self.expected[name] = {"rows": len(pdf), "hash": result_hash(pdf)}
                why = None
            else:
                want = self.expected.get(name)
                got = {"rows": len(pdf), "hash": result_hash(pdf)}
                why = None if want == got else f"result {got} != expected {want}"
        except Exception:
            why = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if why is None and len(pdf) != rows:
            why = f"materialized {rows} rows but collected {len(pdf)}"
        if why:
            self.fail(name, why)


def query_parts(run: Run, name: str):
    """A query is an operation of one part, in the operators layer."""
    return [("operators", lambda: run.qs[name](run.spark, run.sf_dir))]


def query_workload(run: Run, names: list[str], seconds: float, trace: bool):
    """Cold pass with checks, then warm passes for ``seconds``."""
    import duckdb

    from conceptnetwork_spark.catalog import TABLES

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.sf_dir}/{t}.parquet'")
    cold = []
    for name in names:
        res = run.op(name, query_parts(run, name), traced=False)
        if res is not None:
            cold.append(res[0])
            run.check_query(name, res[2], res[1], duck)
    duck.close()

    def warm_op(name, traced):
        res = run.op(name, query_parts(run, name), traced)
        if res is None:
            return None
        if res[1] != run.cold_rows.get(name):
            run.fail(name, f"{res[1]} rows, cold pass gave {run.cold_rows.get(name)}")
        return res

    return cold, warm_passes(run, names, warm_op, seconds, trace)


def dataprep_workload(run: Run, seconds: float, trace: bool):
    """Cold pass of the three stages with checks, then warm passes."""
    from perfbench.dataprep import Stages, write_lines

    lines = os.path.join(run.run_dir, "lines")
    valid = write_lines(lines, run.args.lines, run.args.seed)
    stages = Stages(run.spark, lines, os.path.join(run.run_dir, "dataprep"))
    builders = dict(stages.ops())
    cold = []
    for name, parts in builders.items():
        res = run.op(name, parts, traced=False)
        if res is not None:
            cold.append(res[0])
            run.cold_rows[name] = res[1]
    try:
        why = stages.mismatch()
    except Exception:
        why = traceback.format_exc(limit=3).strip().splitlines()[-1]
    if why:
        run.fail("outputs", why)
    # the read-back materializes both sinks, each with one record per valid line
    back = run.cold_rows.get(Stages.READ_BACK)
    if back != 2 * valid:
        run.fail(Stages.READ_BACK, f"{back} records from the two sinks, {valid} valid lines")

    def warm_op(name, traced):
        res = run.op(name, builders[name], traced)
        if res is not None and res[1] != run.cold_rows.get(name):
            run.fail(name, f"{res[1]} records, cold pass gave {run.cold_rows.get(name)}")
        return res

    passes = warm_passes(run, list(builders), warm_op, seconds, trace, ordered=True)
    run.records = valid
    run.dataprep_sizes = {
        "sources.tfrecord.shards": stages.shards(),
        "sources.output_bytes_per_input_byte": stages.output_bytes() / stages.input_bytes(),
    }
    return cold, passes


def warm_passes(run: Run, names, warm_op, seconds: float, trace: bool, ordered=False):
    """``WARMUP_PASSES`` untraced passes that only warm the session (their
    records go to ``run.warmup``), then ``seconds * PASSES_PER_S`` measured
    warm passes, at least two. A fixed count
    keeps the work and the sample count of a run the same on every commit
    and host. With tracing there are at least three pairs of one traced and
    one untraced pass, the traced one second in odd pairs and first in even
    ones, so a drift in host speed or warm-up over the run cancels out of
    the pairs' differences. Each pass runs the operations in a fresh
    order drawn from the seed, unless ``ordered`` (stages that depend on each
    other). Returns one record per pass."""
    from perfbench.spans import stream_metrics

    run.phase("cold")
    rng = random.Random(run.args.seed)
    passes = []
    count = max(2, round(seconds * PASSES_PER_S[run.args.workload]))
    for i in range(WARMUP_PASSES + (max(6, count + count % 2) if trace else count)):
        run.pass_no += 1
        traced = trace and i >= WARMUP_PASSES and len(passes) % 4 in (1, 2)
        order = list(names)
        if not ordered:
            rng.shuffle(order)
        run.layers = {}
        span_mark = len(run.tracer.spans)
        stop = run.start_tracing() if traced else None
        try:
            ops = [(n, r) for n in order if (r := warm_op(n, traced)) is not None]
        finally:
            if stop is not None:
                stop()
        rec = {"traced": traced, "order": order,
               "op_s": [r[0] for _, r in ops],
               "rows": sum(r[1] or 0 for _, r in ops)}
        if traced:
            layers = dict(run.layers)
            layers.update(stream_metrics(run.progress))
            layers["catalog.table_s"] = run.tracer.total("catalog", span_mark)
            for span, t in run.tracer.self_times(span_mark).items():
                if span in SELF_TIME:
                    layers[SELF_TIME[span]] = layers.get(SELF_TIME[span], 0.0) + t
            rec["layers"] = layers
            run.progress.clear()
        (passes if i >= WARMUP_PASSES else run.warmup).append(rec)
    return passes


def catalog_open_s(spark, sf_dir: str) -> float:
    """Median seconds of a fresh ``Catalog(...).table(t)`` over the tables."""
    from conceptnetwork_spark.catalog import TABLES, Catalog

    times = []
    for t in TABLES:
        t0 = time.perf_counter()
        Catalog(spark, sf_dir).table(t)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def versions(spark) -> dict[str, str]:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"spark": spark.version, "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "duckdb": duckdb.__version__, "python": platform.python_version()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "conceptnetwork_spark")):
        print(f"no conceptnetwork_spark package under {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sf_dir = os.path.join(DATA, f"sf{args.sf}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(WORK, exist_ok=True)
    remove_stale_runs()
    os.makedirs(run_dir)
    prepare_environment(run_dir, sf_dir)
    try:
        return measure(args, sf_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, sf_dir: str, run_dir: str) -> int:
    from perfbench.spans import Tracer

    tracer = Tracer()
    cal_before = calibrate()
    spark, qs, setup_times = set_up(SETUP_REPS, tracer)
    sc_gateway = spark.sparkContext._gateway
    try:
        run = Run(args, spark, qs, sf_dir, run_dir, tracer)
        if args.workload == "concept_dataprep":
            cold, passes = dataprep_workload(run, args.seconds, bool(args.trace))
        else:
            from perfbench.workloads import selected

            cold, passes = query_workload(run, selected(args.workload), args.seconds,
                                          bool(args.trace))
        run.phase("warm")
        cat_open = catalog_open_s(spark, sf_dir) if args.trace else None
        rss = jvm_peak_rss_mb(spark)
        heap_live = jvm_heap_live_mb(spark)
        stamp = {"nproc": len(os.sched_getaffinity(0)),
                 "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                 "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                 "versions": versions(spark), "sf_dir": os.path.relpath(sf_dir, ROOT),
                 "seed": args.seed, "workload": args.workload, "seconds": args.seconds,
                 "trace": args.trace, "master": spark.sparkContext.master}
    finally:
        spark.stop()
        sc_gateway.shutdown()
        sc_gateway.proc.stdin.close()
        sc_gateway.proc.wait(timeout=60)
    run.phase("teardown")
    cal_after = calibrate()
    if args.record_expected:
        from perfbench.checks import save_expected

        save_expected(run.expected_all)

    untraced = [p for p in passes if not p["traced"]]
    warm_ops = [t for p in untraced for t in p["op_s"]]
    if not warm_ops:
        raise RuntimeError(f"every warm operation failed: {run.failures[:5]}")
    tail_s, tail_pct, n_ops = tail(warm_ops)
    pass_s = statistics.median(sum(p["op_s"]) for p in untraced)
    if run.records is not None:
        records_per_s = run.records / pass_s
    else:
        records_per_s = statistics.median(p["rows"] / sum(p["op_s"]) for p in untraced)
    details = {
        "stamp": stamp, "calibration": {"kind": CALIBRATION, "before_s": cal_before,
                                        "after_s": cal_after},
        "setup_reps_s": setup_times, "phases_s": run.phases, "cold_op_s": cold,
        "warmup_passes": [{k: p[k] for k in ("op_s", "rows")} for p in run.warmup],
        "warm_passes": [{k: p[k] for k in ("traced", "op_s", "rows")} for p in passes],
        "op_tail": {"percentile": tail_pct, "samples": n_ops},
        "failures": run.failures[:50],
    }
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed}
    if args.trace:
        traced = [p["layers"] for p in passes if p["traced"]]
        layers = {k: statistics.median(t.get(k, 0.0) for t in traced) for k in PER_LAYER}
        layers["session.get_spark_s"] = statistics.median(s for s, _ in setup_times)
        layers["registry.load_s"] = statistics.median(r for _, r in setup_times)
        layers["catalog.table_open_s"] = cat_open
        # the traced pass of each pair minus its untraced pass
        pairs = [sum(b["op_s"]) - sum(a["op_s"]) if b["traced"] else
                 sum(a["op_s"]) - sum(b["op_s"]) for a, b in zip(passes[::2], passes[1::2])]
        layers["trace.overhead_s"] = statistics.median(pairs)
        details["trace_overhead_pairs_s"] = pairs
        layers["failed_frac"] = run.failed / max(run.attempted, 1)
        layers["jvm_peak_rss_mb"] = rss
        layers.update(run.dataprep_sizes)
        values, units = layers, PER_LAYER
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.dump(trace_path)
        details["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        values = {
            "setup_s": statistics.median(s + r for s, r in setup_times),
            "cold_pass_s": sum(cold),
            "pass_s": pass_s,
            "op_p50_s": statistics.median(warm_ops),
            "op_tail_s": tail_s,
            "records_per_s": records_per_s,
            "jvm_heap_live_mb": heap_live,
        }
        units = END_TO_END
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
