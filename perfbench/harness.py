"""Process-level plumbing shared by the workloads: the scratch root,
the Spark session and its JVM, process-tree memory, and the traced
run's spans and counters.

Tracing is off unless asked for. With it off, the workloads call the
package exactly as a user would and nothing here touches the JVM
between operations.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import urllib.request
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

WORK_DIR = ".perfbench_work"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class WorkRoot:
    """Every file a run makes (data, Spark local dirs, warehouse, JVM
    temp files) lives under one directory inside the working
    directory; it is removed on exit, as is its parent when empty."""

    def __init__(self) -> None:
        self.parent = os.path.abspath(WORK_DIR)
        self.path = os.path.join(self.parent, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def __enter__(self) -> "WorkRoot":
        os.makedirs(self.path)
        return self

    def sub(self, *names: str) -> str:
        p = os.path.join(self.path, *names)
        os.makedirs(p, exist_ok=True)
        return p

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.parent)
        except OSError:
            pass


def start_spark(root: WorkRoot, trace: bool, extra: dict | None = None):
    """The package's own session factory, pointed at the work root,
    plus a workload's ``extra`` settings. The traced run also turns on
    the UI, whose REST API serves the per-stage task metrics."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = root.sub("local")
    os.environ["TMPDIR"] = root.sub("tmp")
    # spark-submit first runs a small launcher JVM; keep it out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={root.sub('tmp')} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": root.sub("local"),
        "spark.sql.warehouse.dir": root.sub("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={root.sub('tmp')} -XX:-UsePerfData"
        ),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    from etsd_time_series_database_spark import get_spark

    return get_spark("perfbench", conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                rss[int(name)] = int(f.read().split()[1]) * os.sysconf("SC_PAGESIZE") // 1024
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and any Python workers), sampled every 100 ms."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@dataclass
class Step:
    """One timed operation: its latency, the input rows it covered,
    its kind and how many rows its result held."""

    latency_s: float
    rows: int
    kind: str
    result_rows: int = 0


def action(tracer, op: int, df, run):
    """Run ``run`` (the action that consumes ``df``) inside a
    ``spark.action`` span; the traced run first forces the physical
    plan in a ``spark.plan`` span so planning is attributed apart."""
    with tracer.span("spark.plan", op):
        if tracer.enabled:
            df._jdf.queryExecution().executedPlan()
    with tracer.span("spark.action", op):
        return run()


# ------------------------------------------------------------ tracing

_CODEGEN = {
    "compile": "METRIC_COMPILATION_TIME",
    "class_bytes": "METRIC_GENERATED_CLASS_BYTECODE_SIZE",
}


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    """The untraced run: spans record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: int):
        yield None

    def op(self, op: int):
        return self.span("bench.op", op)


class Tracer(NullTracer):
    """Spans held in memory: name, start, end, parent and op id, plus
    the Spark jobs each span started (through a job group per span)
    and the JVM codegen counters across each operation."""

    enabled = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _codegen(self) -> dict[str, float]:
        # counts are exact; sums are over the histogram's reservoir,
        # which holds every sample until 1028 compiles in a process
        out = {}
        metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        for key, name in _CODEGEN.items():
            hist = getattr(metrics, name)()
            values = hist.getSnapshot().getValues()
            out[f"{key}_n"] = float(hist.getCount())
            out[f"{key}_sum"] = float(self.jvm.java.util.Arrays.stream(values).sum())
        return out

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, op, parent, 0.0)
        self.spans.append(s)
        group = f"perfbench-{idx}"
        before = self._codegen() if name == "bench.op" else None
        self.sc.setJobGroup(group, name)
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            if before is not None:
                after = self._codegen()
                s.counts.update({k: after[k] - before[k] for k in after})

    # -------------------------------------------------- after the run

    def stage_metrics(self) -> dict[int, dict]:
        """Per-stage task metrics from the UI's REST API."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{self.sc.applicationId}/stages"
        )
        with urllib.request.urlopen(url, timeout=60) as resp:
            stages = json.load(resp)
        out: dict[int, dict] = {}
        for st in stages:
            m = out.setdefault(st["stageId"], dict.fromkeys(STAGE_FIELDS, 0.0))
            for key, src in STAGE_FIELDS.items():
                m[key] += float(st.get(src, 0) or 0)
        return out

    def job_stages(self, job_ids: list[int]) -> set[int]:
        out: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                out.update(info.stageIds)
        return out


STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_write": "shuffleWriteBytes",
    "tasks": "numCompleteTasks",
}


def self_times(spans: list[Span], keep) -> dict[str, float]:
    """Each layer's self time in ms over the spans ``keep`` accepts: a
    span's duration minus the part of it its child spans cover,
    summed per span name."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if not keep(s):
            continue
        covered, edge = 0.0, s.start
        for k in sorted(kids.get(i, ()), key=lambda k: k.start):
            lo, hi = max(k.start, edge), min(k.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000.0
    return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
