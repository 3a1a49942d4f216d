"""Process set-up, Spark status-tracker reads, spans and statistics
shared by the workloads.

The benchmark drives the package from outside: it times calls into
each module's public functions and reads Spark's status tracker for
the jobs, stages and tasks a call launched. Nothing here reaches into
the package's internals.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import time
from contextlib import contextmanager

#: driver heap cap, a host limit: the package default (24g) exceeds
#: the memory of a 16 GB host shared with other processes, and a heap
#: allowed to grow past physical memory can exhaust the host. The
#: benchmark's largest working set is well under 1 GB.
DRIVER_MEM = "3g"


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit; must run
    before the first Spark import starts a JVM.

    - ``SPARK_GRAFT_CPUS`` defaults to, and is capped at, ``nproc``;
    - the driver heap cap defaults to ``DRIVER_MEM``: a host limit, not
      a tuning (README.md). Every other setting, shuffle width
      included, is the package's own;
    - every temporary and spill file stays inside ``work``;
    - the console progress bar is off so stdout carries only results.
    """
    nproc = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(int(cpus), nproc) if cpus.isdigit() and int(cpus) > 0 else nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # collected timestamps become naive datetimes in the local zone; the
    # checks compare them with the generator's UTC wall-clock strings
    os.environ["TZ"] = "UTC"
    time.tzset()
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def host_record(spark, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "seed": seed,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit (its
    Python worker daemons go with it)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Py4JError:
        pass  # the JVM is already gone (terminated run)
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def source_rows(df) -> int:
    """Rows the data-source scans of ``df``'s executed plan returned,
    from the scan nodes' ``numOutputRows`` SQL metric; read after an
    action on ``df``. A filter the source takes is applied inside the
    scan and lowers this count; one Spark applies above the scan does
    not. The walk follows adaptive plans, query stages and cached
    relations down to the scans that did the reading."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "BatchScanExec":
            total += node.metrics().apply("numOutputRows").value()
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        elif kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


class Tracker:
    """Job/stage/task counts of Spark job groups, from the status
    tracker (which works with the UI disabled)."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()

    def counts(self, group: str) -> dict:
        jobs = self.st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stage = self.st.getStageInfo(s)
                stages += 1
                tasks += stage.numTasks if stage is not None else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Tracer:
    """Spans around calls into the package's layers.

    A span records name, start, end, parent and run id; each span runs
    its Spark work under its own job group, so the status tracker
    attributes jobs to exactly one span; ``finish`` adds children's
    counts to their parents'. Spans stay in memory and go out with the
    run's report line at the end. ``enabled=False`` makes every span a
    no-op, which is how untraced runs time the same code.
    """

    def __init__(self, sc, run_id: str, enabled: bool = True):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.tracker = Tracker(sc)
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        group = f"{self.run_id}-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(
                f"{self.run_id}-span-{parent['id']}" if parent else self.run_id,
                parent["name"] if parent else "bench",
            )
            rec.update(self.tracker.counts(group))

    def finish(self) -> list[dict]:
        """Durations, self times (span minus the part its children
        cover) and child-inclusive counts."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in reversed(self.spans):  # children finish before parents
            kids = children.get(s["id"], [])
            covered = sum(min(k["end"], s["end"]) - max(k["start"], s["start"]) for k in kids)
            s["self_s"] = s["dur_s"] - covered
            for key in ("jobs", "stages", "tasks"):
                s[f"{key}_total"] = s.get(key, 0) + sum(k[f"{key}_total"] for k in kids)
        return self.spans

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the highest of p99/p95/p90/p75/p50 with
    at least ten samples beyond it. With fewer than 20 samples no
    percentile qualifies, and the maximum (p100) is reported instead."""
    n = len(values)
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return q, percentile(values, q)
    return 100, max(values)


def median(values: list[float]) -> float:
    return statistics.median(values)
