"""In-memory tracing for the estimation benchmark.

Three recorders, all kept in memory until the run ends:

- :class:`Tracer` records spans (name, start, end, parent, workload, run id)
  around each call the benchmark makes into a layer of the program.
- :class:`PlanMetrics` registers a Spark ``QueryExecutionListener`` through
  the py4j callback server and reads the SQL metrics of each action's final
  executed plan (Python UDF time and bytes, AQE shuffle size and partitions).
- :func:`tree_rss_bytes` reads the summed resident memory of this process and
  every process below it (driver JVM, Python daemon and workers), and
  :class:`RssSampler` tracks its peak.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. When disabled, ``span`` still times the block (the
    benchmark needs the durations) but keeps nothing."""

    def __init__(self, enabled: bool, workload: str, run_id: str):
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "workload": self.workload, "run_id": self.run_id, **attrs}
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.enabled:
                self.spans.append(rec)


class PlanMetrics:
    """Collects ``QueryExecution`` objects of finished actions and turns
    the final executed plan of one into per-layer numbers."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._events: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Listener(self._events)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self):
        self._spark._jsparkSession.listenerManager().unregister(self._listener)
        self._events.clear()

    def wait_for(self, func_name: str, timeout: float = 10.0):
        """Latest recorded action named ``func_name`` (listener events are
        delivered asynchronously, so poll briefly)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            hits = [qe for name, qe in list(self._events) if name == func_name]
            if hits:
                return hits[-1]
            time.sleep(0.005)
        return None

    @staticmethod
    def summarize(qe) -> dict:
        """Sum the Python-UDF and shuffle-read metrics over the plan."""
        out = {"python_ms": 0, "python_boot_ms": 0, "sent_bytes": 0, "recv_bytes": 0,
               "shuffle_bytes": 0, "tasks": 0, "_exchange_bytes": 0, "_exchange_parts": 0}
        for name, metrics in _walk(qe.executedPlan()):
            if name.startswith("FlatMapGroupsInPandas") or name.startswith("FlatMapGroupsInArrow"):
                out["python_ms"] += metrics.get("pythonTotalTime", 0)
                out["python_boot_ms"] += metrics.get("pythonBootTime", 0) + metrics.get("pythonInitTime", 0)
                out["sent_bytes"] += metrics.get("pythonDataSent", 0)
                out["recv_bytes"] += metrics.get("pythonDataReceived", 0)
            elif name == "AQEShuffleRead":
                out["shuffle_bytes"] += metrics.get("partitionDataSize", 0)
                out["tasks"] += metrics.get("numPartitions", 0)
            elif name == "Exchange":
                out["_exchange_bytes"] += metrics.get("shuffleBytesWritten", 0)
                out["_exchange_parts"] += metrics.get("numPartitions", 0)
        if out["tasks"] == 0:  # AQE left the shuffle read as planned
            out["shuffle_bytes"] = out["_exchange_bytes"]
            out["tasks"] = out["_exchange_parts"]
        del out["_exchange_bytes"], out["_exchange_parts"]
        return out


class _Listener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, events: list):
        self._events = events

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802,N803 (JVM interface)
        self._events.append((funcName, qe))

    def onFailure(self, funcName, qe, exception):  # noqa: N802,N803
        self._events.append(("failed:" + funcName, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _walk(plan):
    """(node name, {metric: value}) for every node of a physical plan,
    descending into adaptive plans and query stages."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        yield node.nodeName(), metrics
        if cls == "InMemoryTableScanExec":
            continue  # the cached input's own plan is not part of this action
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


class RssSampler:
    """Background thread tracking the peak summed RSS of the process tree
    rooted at this process (read from /proc)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())


def tree_rss_bytes() -> int:
    """Summed RSS of this process and every process below it (from /proc)."""
    return sum(_rss(pid) for pid in tree_pids(os.getpid()))


def tree_pids(root: int) -> list[int]:
    """``root`` and every process below it (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


_PAGE = os.sysconf("SC_PAGE_SIZE")
