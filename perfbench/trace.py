"""Traced-run recorder: spans and counters taken from outside the engine.

Nothing inside ``agent_data_wrangler_spark`` changes. The recorder

- wraps every public module-level function of every package module (and
  rebinds each name other modules imported with ``from … import``, so
  those calls reach the wrapper too), plus ``Pipeline.run`` /
  ``Pipeline.from_spec`` / ``Stage.apply``;
- counts py4j round trips by wrapping the gateway client's
  ``send_command`` (object-release commands excluded: the Python garbage
  collector sends them at arbitrary times);
- reads jobs, stages, tasks and SQL-node row counts from Spark's local
  REST API after each query, once the listener bus has drained;
- counts streaming queries and micro-batches with a streaming query
  listener.

Spans stay in memory (one small list each) and are summarised at exit.
Calls made by the recorder itself, and by listener up-calls, are not
counted as py4j round trips of the program.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
import urllib.error
import urllib.request
from datetime import datetime, timezone

#: The recorder wrappers report to; ``None`` while tracing is paused.
ACTIVE: Recorder | None = None

# Span fields (a span is a list, appended to ``Recorder.spans``).
GROUP, NAME, START, END, PARENT, QID = range(6)

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
_SQL_LIST = "/sql?details=false&offset=0&length=1000000"


def layer_group(module: str) -> str | None:
    """Layer name of a package module: ``operators.dedup``,
    ``sources.readers``, ``functions`` (all helpers), ``plans.derived``,
    ``streaming``, ``session``. Query modules are not wrapped: the
    benchmark times their builders itself."""
    parts = module.split(".")[1:]
    if not parts or parts[0] in ("queryset", "queryset_nstar"):
        return None
    if parts[0] in ("functions", "streaming", "session"):
        return parts[0]
    return ".".join(parts[:2])


def _utc_epoch(stamp: str) -> float:
    """REST timestamps look like ``2026-10-17T08:43:08.351GMT``; they are
    UTC, so parse them as such (``time.mktime`` would apply local time)."""
    return datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Recorder:
    """Spans, counters and per-query Spark records of one traced run."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.qid: str | None = None
        self.py4j_calls = 0
        self.stream_queries = 0
        self.stream_batches = 0
        self.stream_batch_ms = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, group: str, name: str) -> list:
        st = self._stack()
        span = [group, name, time.time(), None, st[-1] if st else None, self.qid]
        self.spans.append(span)
        st.append(span)
        return span

    def close(self, span: list) -> None:
        span[END] = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, group: str, name: str):
        s = self.open(group, name)
        try:
            yield s
        finally:
            self.close(s)

    # -- py4j ------------------------------------------------------------
    @contextlib.contextmanager
    def untracked(self):
        """Round trips made inside this block are not the program's."""
        prev = getattr(self._local, "paused", False)
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = prev

    def count_command(self, command: str) -> None:
        if self.qid is None or command.startswith("m\n"):
            return
        if getattr(self._local, "paused", False):
            return
        with self._lock:
            self.py4j_calls += 1


def _traced(fn, group: str, name: str):
    keep_path = group.startswith("sources.")

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        rec = ACTIVE
        if rec is None:
            return fn(*args, **kwargs)
        span = rec.open(group, name)
        try:
            out = fn(*args, **kwargs)
        finally:
            rec.close(span)
        if keep_path:  # the path a source read or a sink wrote
            span.append(out if isinstance(out, str) else next(
                (a for a in args if isinstance(a, str)), None))
        return out

    # Same __module__/__qualname__ as ``fn`` and installed under that name,
    # so pickle sends the wrapper to Python workers by reference and the
    # worker imports the plain function.
    return traced


def install() -> int:
    """Wrap the package's public functions; returns how many were wrapped."""
    import agent_data_wrangler_spark as pkg
    from agent_data_wrangler_spark.plans import pipeline

    modules = [pkg] + [importlib.import_module(m.name) for m in
                       pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    wrapped: dict = {}
    for mod in modules:
        group = layer_group(mod.__name__)
        if group is None:
            continue
        for name, fn in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue
            wrapped[fn] = _traced(fn, group, name)
            setattr(mod, name, wrapped[fn])
    for mod in modules:
        for name, value in list(vars(mod).items()):
            if inspect.isfunction(value) and value in wrapped:
                setattr(mod, name, wrapped[value])
    pipeline.Pipeline.run = _traced(pipeline.Pipeline.run, "plans.pipeline", "run")
    pipeline.Pipeline.from_spec = classmethod(_traced(
        pipeline.Pipeline.from_spec.__func__, "plans.pipeline", "from_spec"))
    pipeline.Stage.apply = _traced(pipeline.Stage.apply, "plans.pipeline", "stage")

    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    @functools.wraps(send)
    def counted_send(self, command, *args, **kwargs):
        rec = ACTIVE
        if rec is not None:
            rec.count_command(command)
        return send(self, command, *args, **kwargs)

    GatewayClient.send_command = counted_send
    return len(wrapped)


class StreamListener:
    """py4j implementation of Spark's Python streaming-listener interface.

    Up-calls arrive on py4j callback threads; reading the event goes
    through the gateway, so it runs with round-trip counting paused."""

    def __init__(self, rec: Recorder) -> None:
        self.rec = rec

    def onQueryStarted(self, jevent) -> None:  # noqa: N802 (Java interface)
        with self.rec.untracked(), self.rec._lock:
            self.rec.stream_queries += 1

    def onQueryProgress(self, jevent) -> None:  # noqa: N802
        with self.rec.untracked():
            ms = int(jevent.progress().batchDuration())
            with self.rec._lock:
                self.rec.stream_batches += 1
                self.rec.stream_batch_ms += ms

    def onQueryIdle(self, jevent) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, jevent) -> None:  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


def add_stream_listener(spark, rec: Recorder) -> None:
    from py4j.java_gateway import java_import
    from pyspark import SparkContext
    from pyspark.java_gateway import ensure_callback_server_started

    gateway = SparkContext._gateway
    ensure_callback_server_started(gateway)
    java_import(gateway.jvm, "org.apache.spark.sql.streaming.*")
    spark.streams._jsqm.addListener(
        gateway.jvm.PythonStreamingQueryListenerWrapper(StreamListener(rec)))


class SparkRest:
    """Reads the driver's status store through the local REST API."""

    def __init__(self, spark, rec: Recorder) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.rec = rec
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = self._max_job()
        self.last_sql = self._max_sql()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as fh:
            return json.load(fh)

    def drain(self) -> None:
        """Wait until every posted listener event is processed, so the
        status store holds the complete record of finished work."""
        with self.rec.untracked():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job(self) -> int:
        self.drain()
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def _max_sql(self) -> int:
        self.drain()
        return max((e["id"] for e in self._get(_SQL_LIST)), default=-1)

    def collect(self) -> dict:
        """Jobs, stage totals and SQL join rows since the previous call."""
        self.drain()
        jobs = sorted((j for j in self._get("/jobs") if j["jobId"] > self.last_job),
                      key=lambda j: j["jobId"])
        if jobs:
            self.last_job = jobs[-1]["jobId"]
        out = {"jobs": [], "stages": 0, "tasks": 0, "failed_tasks": 0,
               "run_ms": 0, "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
               "spill": 0, "input": 0, "skew": [], "join_rows": 0}
        stage_ids: set[int] = set()
        for j in jobs:
            start = _utc_epoch(j["submissionTime"])
            end = _utc_epoch(j["completionTime"]) if "completionTime" in j else start
            out["jobs"].append((start, end))
            stage_ids.update(j["stageIds"])
        for sid in sorted(stage_ids):
            try:
                attempts = self._get(f"/stages/{sid}?details=false")
            except urllib.error.HTTPError:
                continue  # skipped stage: never ran, nothing recorded
            for st in attempts:
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["failed_tasks"] += st["numFailedTasks"]
                out["run_ms"] += st["executorRunTime"]
                out["gc_ms"] += st["jvmGcTime"]
                out["shuffle_read"] += st["shuffleReadBytes"]
                out["shuffle_write"] += st["shuffleWriteBytes"]
                out["spill"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                out["input"] += st["inputBytes"]
                if st["numCompleteTasks"] >= 2:
                    q = self._get(f"/stages/{sid}/{st['attemptId']}/taskSummary"
                                  "?quantiles=0.5,1.0")["executorRunTime"]
                    out["skew"].append((st["executorRunTime"], q[0], q[1]))
        new_sql = sorted(e["id"] for e in self._get(_SQL_LIST)
                         if e["id"] > self.last_sql)
        for eid in new_sql:
            self.last_sql = eid
            ex = self._get(f"/sql/{eid}?details=true&planDescription=false")
            for node in ex.get("nodes", []):
                if node["nodeName"] in _JOIN_NODES:
                    for m in node.get("metrics", []):
                        if m["name"] == "number of output rows":
                            out["join_rows"] += int(m["value"].replace(",", ""))
        return out
