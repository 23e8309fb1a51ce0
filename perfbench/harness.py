"""Spark session lifecycle, /proc sampling, stage metrics and spans.

The benchmark measures the engine from outside: it starts the engine's own
session builder (``xponents_spark.session.get_spark``), reads CPU and RSS
of the JVM and its Python workers from ``/proc``, and reads stage and task
metrics from the Spark driver's monitoring REST API on 127.0.0.1.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- spans -------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent and run id, plus counts.
    Written once, at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, **counts):
        yield {"counts": {}}


# --- Spark session -----------------------------------------------------------

def configure_env(root: str, work: str) -> None:
    """Keep every file the JVM, Spark and Python workers write inside
    ``work`` and let the workers import the engine from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # pinned: the engine default follows host RAM; 4g keeps GC out of the
    # winnow self-join on every host
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.driver.host=127.0.0.1",
        "--conf spark.driver.bindAddress=127.0.0.1",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell"])
    import tempfile
    tempfile.tempdir = tmp


def start_spark(slots: int):
    from xponents_spark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{slots}]",
                      shuffle_partitions=slots)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- /proc -------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of ``root`` and every live descendant, including
    the CPU of exited children their parents reaped."""
    total = 0
    for pid in [root] + descendants(root):
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def workers_rss_mb(root: int) -> float:
    """Summed RSS of the PySpark daemon and its forked workers.  Other
    children of the JVM are skipped: a process the JVM forks shares its
    pages until it execs and would read as a second JVM."""
    total = 0
    for pid in descendants(root):
        f = _stat(pid)
        if f is not None and _is_python_worker(pid):
            total += int(f[21])
    return total * _PAGE / 2 ** 20


class RssSampler:
    """Peak of ``workers_rss_mb``, sampled on a thread every ``interval``
    seconds."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, workers_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --- stage metrics ------------------------------------------------------------

def _rest(sc, path: str):
    url = sc.uiWebUrl.rstrip("/")
    with urllib.request.urlopen(
            f"{url}/api/v1/applications/{sc.applicationId}{path}",
            timeout=10) as r:
        return json.load(r)


def group_stages(sc, group: str, wait_s: float = 10.0) -> list[dict]:
    """Completed stage records (REST ``/stages/<id>``) of every job run
    under the job group ``group``, with p50/max task run time attached.
    The status store fills asynchronously, so poll until every stage of
    the group has a final status."""
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in tracker.getJobIdsForGroup(group)
                        for s in tracker.getJobInfo(j).stageIds})
    deadline = time.monotonic() + wait_s
    out = []
    for sid in stage_ids:
        while True:
            try:
                recs = _rest(sc, f"/stages/{sid}")
            except OSError:
                recs = []
            done = [r for r in recs
                    if r["status"] in ("COMPLETE", "SKIPPED", "FAILED")]
            if done and all(r["status"] != "ACTIVE" for r in recs) \
                    or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        for r in done:
            if r["status"] != "COMPLETE":
                continue
            q = _rest(sc, f"/stages/{sid}/{r['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0")
            r["task_run_p50_s"] = q["executorRunTime"][0] / 1000
            r["task_run_max_s"] = q["executorRunTime"][1] / 1000
            out.append(r)
    return out


def stage_wall_s(rec: dict) -> float:
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s.replace("GMT", "+0000"),
                                 "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
    return ts(rec["completionTime"]) - ts(rec["submissionTime"])


def group_jobs(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))

