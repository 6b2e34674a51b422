"""Shared pieces of the benchmark: environment, Spark session, progress
events, spans, the stage ledger and small statistics helpers.

Everything here reads the engine from outside: the session comes from
``bento_spark.session.get_spark``, streaming numbers from
``StreamingQueryProgress`` and stage numbers from Spark's status store.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import math
import os
import platform
import re
import statistics
import subprocess
import sys
import time

#: pinned host settings, recorded with every result
CPUS = 4
DRIVER_MEM = "4g"

#: workload name -> the module that runs it
MODULES = {"stream_window": "streams", "batch_ops": "batch"}


def setup_env(root: str, work: str) -> None:
    """Pin the engine's host settings and keep every file Spark or its
    Python workers write inside ``work``. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def cold_setup(workload: str, work: str, data: str, traced: bool) -> dict:
    """One set-up of ``workload`` in a fresh process, so it pays the JVM
    launch a user pays; see cold_setup.py."""
    argv = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                         "cold_setup.py"),
            "--workload", workload, "--work", work, "--data", data,
            "--trace", str(int(traced))]
    out = subprocess.run(argv, stdout=subprocess.PIPE, text=True, timeout=120,
                         check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def stop_jvm() -> None:
    """Stop the Spark JVM this process started and wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def start_spark(cpus: int | None = None):
    """A session from the engine's own factory, with progress retention
    raised so a whole phase's progress events stay readable."""
    from bento_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    return spark


# -- statistics ---------------------------------------------------------


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) by linear interpolation; 0.0 when empty."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = (len(vals) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return vals[lo] + (vals[hi] - vals[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# -- streaming progress -------------------------------------------------


def progress(query) -> list[dict]:
    """Every progress event of a stopped query, as dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def event_start_ms(p: dict) -> float:
    ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def event_end_ms(p: dict) -> float:
    return event_start_ms(p) + p["durationMs"].get("triggerExecution", 0)


def data_events(events: list[dict]) -> list[dict]:
    return [p for p in events if p.get("numInputRows", 0) > 0]


def drain_rate(events: list[dict]) -> float:
    """Rows per second from the first data batch's start to the last data
    batch's end."""
    ev = data_events(events)
    if not ev:
        return 0.0
    rows = sum(p["numInputRows"] for p in ev)
    return rows * 1000.0 / (event_end_ms(ev[-1]) - event_start_ms(ev[0]))


def observed(events: list[dict], name: str = "bench") -> list[dict]:
    """Per-batch observed metrics of ``name`` (batches that carry them)."""
    out = []
    for p in events:
        m = (p.get("observedMetrics") or {}).get(name)
        if m is not None:
            out.append(dict(m, _end_ms=event_end_ms(p)))
    return out


# -- spans --------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the engine's public functions.

    ``patch`` replaces a module attribute with a timing wrapper until
    ``close`` restores every patched attribute."""

    def __init__(self):
        self.spans: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()

    def patch(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1000.0 for s in self.spans
                   if s["name"] == name and s["end"] is not None)


def patch_engine(tracer: Tracer) -> None:
    """Span every call of the engine functions the layers are named by."""
    import bento_spark.bloblang as bloblang
    import bento_spark.plans as plans
    import bento_spark.plans.pipeline as pipeline

    tracer.patch(pipeline, "build_pipeline", "plans.build_pipeline")
    tracer.patch(plans, "build_pipeline", "plans.build_pipeline")
    tracer.patch(pipeline, "compile_mapping", "bloblang.compile_mapping")
    tracer.patch(bloblang, "compile_mapping", "bloblang.compile_mapping")


def interp_fallbacks() -> float:
    """The engine's own count of mappings demoted to the interpreter."""
    from bento_spark.observability import default_registry

    counters = default_registry().snapshot()["counters"]
    return float(sum(v for k, v in counters.items()
                     if k.startswith("bloblang.interpreter_fallback")))


#: order of untraced (False) and traced (True) repetitions in a traced
#: run; balanced, so a steady warm-up trend cancels out
ABBA = (False, True, True, False)

#: the end-to-end metrics and whether a higher value is better
END_TO_END = {"setup_s": False, "throughput_per_s": True,
              "latency_p50_ms": False, "latency_p90_ms": False}


def overhead(untraced: dict, traced: dict) -> dict:
    """How much worse each end-to-end metric read traced than untraced,
    as a fraction. Both must come from repetitions at the same warmth:
    the workloads interleave them untraced, traced, traced, untraced."""
    out = {}
    for m, higher in END_TO_END.items():
        ratio = traced[m] / untraced[m]
        out[f"trace.overhead_frac.{m}"] = (1.0 / ratio if higher else ratio) - 1.0
    return out


# -- stage ledger -------------------------------------------------------

#: operation-scope names of the physical operators that ship rows to
#: Python workers (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...)
_PY_SCOPE = re.compile(r'label="[^"]*(Python|InPandas|InArrow)')


def ledger(spark, groups: list[str], wall_s: float, cores: int) -> dict:
    """Per-stage counters of every job in ``groups``, read from Spark's
    status store, summed into the ``exec.*`` metrics."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    tot = dict(stages=0, tasks=0, run_ms=0.0, cpu_ns=0.0, input_b=0.0, sr_b=0.0,
               sw_b=0.0, py_ms=0.0)
    spans: list[tuple[float, float]] = []
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["input_b"] += st.inputBytes()
                tot["sr_b"] += st.shuffleReadBytes()
                tot["sw_b"] += st.shuffleWriteBytes()
                if _is_python_stage(sc, store, sid):
                    tot["py_ms"] += st.executorRunTime()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    spans.append((sub.get().getTime(), done.get().getTime()))
    busy_s = _union_ms(spans) / 1000.0
    cpu_s = tot["cpu_ns"] / 1e9
    return {
        "exec.tasks": tot["tasks"],
        "exec.run_s": tot["run_ms"] / 1000.0,
        "exec.cpu_s": cpu_s,
        "exec.input_mb": tot["input_b"] / 2**20,
        "exec.shuffle_read_mb": tot["sr_b"] / 2**20,
        "exec.shuffle_write_mb": tot["sw_b"] / 2**20,
        "exec.python_stage_s": tot["py_ms"] / 1000.0,
        "exec.driver_s": max(wall_s - busy_s, 0.0),
        "exec.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.stages": tot["stages"],
    }


def _is_python_stage(sc, store, sid: int) -> bool:
    """Whether the stage's operation graph holds a Python operator."""
    graph = store.operationGraphForStage(sid)
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
    return _PY_SCOPE.search(dot) is not None


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# -- host record --------------------------------------------------------


def host_record(spark, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "jvm": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def canaries(spark) -> dict:
    """The repository bench's host canaries, for diagnosing a noisy run.
    Never used to normalise a metric. Empty when bench.py is absent."""
    try:
        import bench
    except ImportError:
        return {}
    return {"host.canary_s": bench.run_canary(spark),
            "host.py_canary_s": bench.run_py_canary(spark)}
