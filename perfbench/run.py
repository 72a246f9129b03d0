"""Benchmark entry point: one workload, one fresh process, one JSON result.

    python3 perfbench/run.py --workload registry_tiny --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. The session is the engine's own
``get_spark()`` at ``local[N]``, N = the CPUs this process may use (set
through ``SPARK_GRAFT_CPUS``). After set-up (imports, session, the
workload's untimed warm-up passes) it runs timed passes of the workload
for about ``--seconds`` seconds, then checks every result it collected.

``--trace 0`` reports the end-to-end metrics: set-up time, and the CPU
time of a pass (``cpu.py``), which unlike its wall time stays put when the
shared host steals CPU from this machine; the wall time of a pass is
printed in the summary line. ``--trace 1`` installs the
recorder of ``trace.py``, alternates untraced and traced passes, and
reports the per-layer metrics of the traced passes (per pass) plus the
tracing overhead. The last stdout line is the result object; the line
before it is a readable summary. Every file the run writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _isolate(work: str, cpus: int) -> None:
    """Point every scratch location of the run into ``work``; a fresh rollup
    cache per run keeps state from carrying across runs."""
    for sub in ("tmp", "spark-local", "adw-cache"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["ADW_CACHE_DIR"] = os.path.join(work, "adw-cache")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Turn SIGTERM into an exit, so the cleanup below still stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work, cpus)
    spark = None
    try:
        from perfbench import workloads

        t0 = time.time()
        wl = workloads.make(args.workload, work, args.seed)
        wl.prepare()
        excluded = time.time() - t0  # benchmark-side input generation

        rec = None
        if args.trace:
            from perfbench import trace

            t0 = time.time()
            trace.install()
            rec = trace.Recorder()
            excluded += time.time() - t0
        from agent_data_wrangler_spark.session import get_spark

        t0 = time.time()
        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
        get_spark_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        for i in range(wl.WARM_PASSES):
            warm = f"warm{i}"
            wl.start_pass(warm)
            for uid in wl.order(warm):
                with contextlib.suppress(Exception):  # counted when timed
                    wl.run(spark, uid, None, warm)
                spark.catalog.clearCache()
        setup_s = time.time() - T_PROCESS - excluded

        result = _timed(spark, wl, args, rec)
        result["setup_s"] = setup_s
        result["get_spark_s"] = get_spark_s
        result["peak_rss_mb"] = _vm_hwm_mb(jvm_pid)
        failed = _check(wl, result)
        wl.close()
        if rec is not None:
            from perfbench import layers

            metrics = layers.summarise(result, rec, cpus)
        else:
            metrics = _end_to_end(result)
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # only when no other run uses it
                os.rmdir(os.path.dirname(work))

    attempted = len(result["units"])
    _summary(args, result, attempted, failed)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _timed(spark, wl, args, rec) -> dict:
    """Closed-loop passes filling ``--seconds``: as many as fit at the
    workload's nominal pass time, so every commit compared does the same
    work (at least one pass; with tracing at least one untraced and one
    traced)."""
    from perfbench import cpu

    clock = cpu.CpuClock(spark.sparkContext._gateway.proc.pid)
    try:
        return _passes(spark, wl, args, rec, clock)
    finally:
        clock.close()


def _passes(spark, wl, args, rec, clock) -> dict:
    from perfbench import layers, trace

    rest = None
    if rec is not None:
        trace.add_stream_listener(spark, rec)
        rest = trace.SparkRest(spark, rec)
    units, passes = [], []
    n_passes = max(2 if rec is not None else 1, round(args.seconds / wl.PASS_S))
    for p in range(n_passes):
        traced = rec is not None and p % 2 == 1
        trace.ACTIVE = rec if traced else None
        wl.start_pass(p)
        streams = (rec.stream_queries, rec.stream_batches,
                   rec.stream_batch_ms) if traced else None
        calls0 = rec.py4j_calls if traced else 0
        cpu0 = clock.start()
        t_pass = time.perf_counter()
        for uid in wl.order(p):
            if traced:
                rec.qid = f"{p}:{uid}"
            span_lo = len(rec.spans) if traced else 0
            t0 = time.perf_counter()
            try:
                out, error = wl.run(spark, uid, rec if traced else None, p), None
            except Exception as exc:  # a failing unit is counted, not fatal
                out, error = None, f"{type(exc).__name__}: {exc}"[:300]
            latency = time.perf_counter() - t0
            unit = {"pass": p, "uid": uid, "latency": latency, "out": out,
                    "error": error, "traced": traced}
            if traced:
                rec.qid = None
                with rec.untracked():
                    unit["cache_left"] = spark.sparkContext._jsc.getPersistentRDDs().size()
                unit["spark"] = rest.collect()
                unit["span_lo"], unit["span_hi"] = span_lo, len(rec.spans)
                unit["io"] = layers.unit_io(rec.spans[span_lo:])
            spark.catalog.clearCache()
            units.append(unit)
        trace.ACTIVE = None
        pass_s = time.perf_counter() - t_pass
        cpu_s, jit_s = clock.stop(cpu0)
        entry = {"pass": p, "s": pass_s, "cpu_s": cpu_s, "jit_s": jit_s,
                 "traced": traced}
        if traced:
            rest.drain()
            entry["py4j"] = rec.py4j_calls - calls0
            entry["streams"] = [b - a for a, b in zip(
                streams, (rec.stream_queries, rec.stream_batches, rec.stream_batch_ms))]
        passes.append(entry)
    return {"units": units, "passes": passes}


def _check(wl, result) -> int:
    failed = 0
    for u in result["units"]:
        ok = u["error"] is None and wl.check(u["uid"], u["pass"], u["out"])
        if not ok:
            failed += 1
            print(f"perfbench: FAILED {u['uid']} pass {u['pass']}: "
                  f"{u['error'] or 'wrong result'}", file=sys.stderr)
    return failed


def _untraced(result, key="s") -> tuple[list[float], list[float]]:
    """(unit latencies, pass figures under ``key``) of the untraced passes."""
    return ([u["latency"] for u in result["units"] if not u["traced"]],
            [e[key] for e in result["passes"] if not e["traced"]])


def _end_to_end(result) -> dict:
    """The bounded end-to-end metrics (the summary line prints the rest)."""
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(_untraced(result, "cpu_s")[1]),
                       "unit": "s"},
    }


def _summary(args, result, attempted, failed) -> None:
    """Readable line: end-to-end figures with units and sample counts."""
    lat, passes = _untraced(result)
    cpu_s = _untraced(result, "cpu_s")[1]
    jit_s = _untraced(result, "jit_s")[1]
    parts = [f"workload={args.workload}", f"seed={args.seed}",
             f"setup_s={result['setup_s']:.3f} s",
             f"pass_cpu_s={statistics.median(cpu_s):.3f} s (n={len(cpu_s)})",
             f"pass_jit_s={statistics.median(jit_s):.3f} s (n={len(jit_s)})",
             f"pass_s={statistics.median(passes):.3f} s (n={len(passes)})",
             f"query_p50_s={statistics.median(lat):.4f} s (n={len(lat)})"]
    if len(lat) > 10:
        # Highest percentile with at least ten samples above it.
        ordered = sorted(lat)
        k = len(ordered) - 11
        parts.append(f"query_p{100 * (k + 1) // len(ordered)}_s="
                     f"{ordered[k]:.4f} s (n={len(lat)})")
    parts += [f"failed_frac={failed / attempted:.4f} ({failed}/{attempted})",
              f"peak_rss_mb={result['peak_rss_mb']:.1f} MB"]
    print("perfbench: " + ", ".join(parts))


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it has exited
    (it exits when its stdin closes)."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
