"""Per-layer metrics of a traced run, per traced pass.

A span counts towards its layer only when no enclosing span belongs to the
same layer, so a package function calling another one of its own layer is
billed once. Jobs belong to the span during which they were submitted.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench.trace import END, GROUP, NAME, PARENT, START, covered

OPERATOR_MODULES = (
    "aggregates", "cdc", "dedup", "filters", "graph", "impute", "joins", "lm",
    "multimodal", "pandas_ops", "pivot", "profile", "setops", "similarity",
    "sketches", "splits", "transform", "validate", "web", "windows",
)

#: (name, unit) of every per-layer metric, in output order.
METRICS: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("queryset.build_s", "s"),
    ("queryset.build_self_s", "s"),
    ("queryset.build_covered_s", "s"),
    ("queryset.build_jobs", "count"),
    ("functions.calls", "count"),
    ("functions.s", "s"),
    ("py4j.calls", "count"),
    ("spark.action_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.slot_busy_frac", "ratio"),
    ("spark.task_max_over_median", "ratio"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("spark.join_rows_per_result_row", "ratio"),
    ("spark.driver_peak_rss_mb", "MB"),
    ("spark.jit_cpu_s", "s"),
    ("sources.read_calls", "count"),
    ("sources.read_s", "s"),
    ("sources.widen_scan_s", "s"),
    ("sources.write_s", "s"),
    ("sources.files_written", "count"),
    ("sources.bytes_written", "bytes"),
    ("sources.write_amplification", "ratio"),
    *[(f"operators.{m}.{k}", u) for m in OPERATOR_MODULES
      for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))],
    ("plans.pipeline.run_s", "s"),
    ("plans.pipeline.stages", "count"),
    ("plans.derived.s", "s"),
    ("plans.report.s", "s"),
    ("streaming.run_s", "s"),
    ("streaming.queries", "count"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("cache.entries_left", "count"),
    ("trace.overhead_s", "s"),
]


def _outermost(span) -> bool:
    parent = span[PARENT]
    while parent is not None:
        if parent[GROUP] == span[GROUP]:
            return False
        parent = parent[PARENT]
    return True


def _size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden, ``_``-prefixed and
    checksum files are bookkeeping, not output."""
    if not path or not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def unit_io(spans: list[list]) -> dict:
    """Files and bytes written, and CSV bytes read, by one unit's calls into
    ``sources``. Called right after the unit, before anything is cleaned."""
    out = {"files": 0, "bytes": 0, "csv_in": 0}
    for s in spans:
        path = s[-1] if len(s) > 6 else None
        if not isinstance(path, str) or not _outermost(s):
            continue
        if s[GROUP] == "sources.writers" and s[NAME].startswith("write"):
            files, size = _size(path)
            out["files"] += files
            out["bytes"] += size
        elif s[GROUP] == "sources.readers" and s[NAME] == "read_csv":
            out["csv_in"] += _size(path)[1]
    return out


def summarise(result: dict, rec, cpus: int) -> dict:
    passes = [e for e in result["passes"] if e["traced"]]
    n = len(passes)
    t: dict[str, float] = defaultdict(float)
    skew_w = skew_sum = result_rows = csv_in = 0.0
    for u in result["units"]:
        if not u["traced"]:
            continue
        sp = u["spark"]
        jobs = sp["jobs"]
        t["spark.jobs"] += len(jobs)
        for key, metric, scale in (
                ("stages", "spark.stages", 1), ("tasks", "spark.tasks", 1),
                ("failed_tasks", "spark.failed_tasks", 1),
                ("run_ms", "spark.task_run_s", 1e-3), ("gc_ms", "spark.gc_s", 1e-3),
                ("shuffle_read", "spark.shuffle_read_bytes", 1),
                ("shuffle_write", "spark.shuffle_write_bytes", 1),
                ("spill", "spark.spill_bytes", 1), ("input", "spark.input_bytes", 1)):
            t[metric] += sp[key] * scale
        for run_ms, med, mx in sp["skew"]:
            if med > 0:
                skew_w += run_ms
                skew_sum += run_ms * mx / med
        t["join_rows"] += sp["join_rows"]
        result_rows += (u["out"] or {}).get("n_rows", 0)
        t["cache.entries_left"] += u["cache_left"]
        t["sources.files_written"] += u["io"]["files"]
        t["sources.bytes_written"] += u["io"]["bytes"]
        csv_in += u["io"]["csv_in"]
        for s in rec.spans[u["span_lo"]:u["span_hi"]]:
            g, name = s[GROUP], s[NAME]
            if name == "stage" and g == "plans.pipeline":
                t["plans.pipeline.stages"] += 1
            if s[END] is None or not _outermost(s):
                continue
            dur = s[END] - s[START]
            n_jobs = sum(1 for a, _ in jobs if s[START] <= a <= s[END])
            if g == "queryset":
                cov = covered(jobs, s[START], s[END])
                t["queryset.build_s"] += dur
                t["queryset.build_covered_s"] += cov
                t["queryset.build_self_s"] += dur - cov
                t["queryset.build_jobs"] += n_jobs
            elif g == "spark":
                t["spark.action_s"] += dur
            elif g == "functions":
                t["functions.calls"] += 1
                t["functions.s"] += dur
            elif g.startswith("operators."):
                t[f"{g}.calls"] += 1
                t[f"{g}.s"] += dur
                t[f"{g}.jobs"] += n_jobs
            elif g == "sources.readers" and name.startswith("read_"):
                t["sources.read_calls"] += 1
                t["sources.read_s"] += dur
            elif g == "sources.readers" and name == "widen_scan":
                t["sources.widen_scan_s"] += dur
            elif g == "sources.writers" and name.startswith("write"):
                t["sources.write_s"] += dur
            elif g == "plans.pipeline" and name == "run":
                t["plans.pipeline.run_s"] += dur
            elif g in ("plans.derived", "plans.report"):
                t[f"{g}.s"] += dur
            elif g == "streaming":
                t["streaming.run_s"] += dur
    for e in passes:
        t["py4j.calls"] += e["py4j"]
        t["spark.jit_cpu_s"] += e["jit_s"]
        q, b, ms = e["streams"]
        t["streaming.queries"] += q
        t["streaming.batches"] += b
        t["streaming.batch_s"] += ms / 1000.0
    pass_total = sum(e["s"] for e in passes)
    values = {k: v / n for k, v in t.items()}
    values["session.get_spark_s"] = result["get_spark_s"]
    values["spark.driver_peak_rss_mb"] = result["peak_rss_mb"]
    values["spark.slot_busy_frac"] = t["spark.task_run_s"] / (pass_total * cpus)
    values["spark.task_max_over_median"] = skew_sum / skew_w if skew_w else 1.0
    values["spark.join_rows_per_result_row"] = (
        t["join_rows"] / result_rows if result_rows else 0.0)
    values["sources.write_amplification"] = (
        t["sources.bytes_written"] / csv_in if csv_in else 0.0)
    # In CPU time, like the bounded pass_cpu_s: the wall-time difference
    # drowns in the host's steal.
    values["trace.overhead_s"] = (
        statistics.median(e["cpu_s"] for e in passes)
        - statistics.median(e["cpu_s"] for e in result["passes"] if not e["traced"]))
    return {name: {"value": values.get(name, 0.0), "unit": unit}
            for name, unit in METRICS}
