"""The workloads. Each is a closed loop: one client issues one unit
(a registered query, or one wrangling-loop iteration) at a time and the
next only after the previous result is complete.

A workload gives the runner:

- ``prepare()``: benchmark-side input generation (not part of set-up time);
- ``WARM_PASSES``: untimed passes run first, so codegen caches, the
  schema memo, the rollup cache and the JIT are warm before timing (part
  of set-up time);
- ``PASS_S``: its pass time at definition, which sets the count of
  timed passes;
- ``start_pass(pass_no)`` and ``order(pass_no)``: reset per-pass inputs,
  and the seeded unit order of a pass;
- ``run(spark, uid, rec, pass_no)``: execute one unit and return its
  result, with spans around the build and the terminal action when traced;
- ``check(uid, pass_no, result)``: verify a result, outside the timed window.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil

from perfbench import hrgen
from perfbench.check import DuckOracle

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: A sample of the registry at its typical fixed per-query cost (median
#: ~0.2 s warm at local[4]), drawn from every tenth registered query in
#: name order and cut to what the run-time budget allows while every layer
#: this workload measures stays reached: relational scan/join/window/
#: aggregate (a1, j2, gp1, k1, qt1), profile (p6), Arrow Python UDF (u6),
#: streaming (st2), derived rollup and graph (tr1), text functions (sg1),
#: similarity (n9). Pipeline, report and writers are measured by
#: ``wrangle_loop``. The count is odd so the median latency falls inside
#: one query's samples rather than in the gap between two. Fixed here so it
#: stays put when the registry changes.
REGISTRY_SAMPLE = (
    "a1_pricing_summary", "gp1_gaps_islands_events",
    "j2_customers_without_orders", "k1_top10_orders", "n9_ivf_topk_embeddings",
    "p6_null_counts_events", "qt1_quantiles_by_type_events",
    "sg1_skipgram_pairs_documents", "st2_streaming_sessions",
    "tr1_triangle_count", "u6_arrow_udf_rot13_customers",
)


class RegistryWorkload:
    """Registered queries from ``__spark_entry__.queries()``, results
    collected to the driver (the check needs them)."""

    #: Untimed passes before timing: the cold one and two more. JIT
    #: compilation keeps cutting the CPU a pass costs for a while: in three
    #: runs at local[4] the passes after the cold one cost 9.1–9.4, then
    #: 7.7–8.7, then 7.4–7.9 s from there on. Timing starts on that plateau.
    WARM_PASSES = 3
    #: Pass time measured when the benchmark was defined (local[4]).
    PASS_S = 4.6

    def __init__(self, names, data_dir, reference, seed) -> None:
        self.names = list(names)
        self.data_dir = data_dir
        self.reference = reference
        self.seed = seed
        self.queries = None
        self.ref = None

    def prepare(self) -> None:
        pass

    def _queries(self):
        if self.queries is None:
            import __spark_entry__

            every = __spark_entry__.queries()
            self.queries = {n: every[n] for n in self.names}
        return self.queries

    def order(self, pass_no) -> list[str]:
        names = list(self.names)
        random.Random(f"{self.seed}:{pass_no}").shuffle(names)
        return names

    def start_pass(self, pass_no) -> None:
        pass

    def run(self, spark, uid, rec, pass_no):
        q = self._queries()
        with rec.span("queryset", "build") if rec else contextlib.nullcontext():
            df = q[uid](spark, self.data_dir)
        with rec.span("spark", "action") if rec else contextlib.nullcontext():
            rows = df.collect()
        return {"columns": df.columns, "rows": rows, "n_rows": len(rows)}

    def check(self, uid, pass_no, result) -> bool:
        if self.ref is None:
            self.ref = self.reference()
        return self.ref.matches(uid, result["columns"], result["rows"])

    def close(self) -> None:
        if self.ref is not None:
            self.ref.close()


class WrangleWorkload:
    """The paper's loop, ``ITERATIONS`` times per pass: read the latest
    version, clean it with a declarative pipeline, write the next version,
    profile it, render and write the report."""

    BASE_ROWS = 20_000
    ITERATIONS = 2
    #: Untimed passes before timing: the cold one and two more. In three
    #: runs at local[4] the CPU of the passes after the cold one fell by
    #: 5–15% to the third; timing from the second spread 0.115 over ten runs.
    WARM_PASSES = 3
    #: Pass time measured when the benchmark was defined (local[4]).
    PASS_S = 5.5

    def __init__(self, work_dir, seed) -> None:
        self.work = os.path.join(work_dir, "hr")
        self.seed = seed
        self.plan = hrgen.plan_for(self.BASE_ROWS)
        self.dirty = os.path.join(self.work, "input", "hr_dirty.csv")

    def prepare(self) -> None:
        os.makedirs(os.path.dirname(self.dirty), exist_ok=True)
        with open(self.dirty, "w", encoding="utf-8") as fh:
            fh.write(hrgen.hr_csv_text(self.plan, self.seed))

    def _base(self, pass_no) -> str:
        return os.path.join(self.work, f"pass_{pass_no}", "hr_dirty.csv")

    def start_pass(self, pass_no) -> None:
        """Each pass starts from a fresh copy of the dirty table."""
        base = self._base(pass_no)
        os.makedirs(os.path.dirname(base), exist_ok=True)
        shutil.copyfile(self.dirty, base)

    def order(self, pass_no) -> list[int]:
        return list(range(self.ITERATIONS))

    def run(self, spark, uid, rec, pass_no):
        from agent_data_wrangler_spark.operators import profile
        from agent_data_wrangler_spark.plans import pipeline, report
        from agent_data_wrangler_spark.sources import readers, writers

        base = self._base(pass_no)
        df = readers.read_csv(spark, writers.latest_version_path(base))
        res = pipeline.Pipeline.from_spec(
            "hr_clean", hrgen.CLEAN_SPEC, count_rows=True).run(df)
        out = writers.write_versioned(res.df, base, fmt="csv")
        with rec.span("spark", "action") if rec else contextlib.nullcontext():
            desc = profile.describe_auto(res.df, list(hrgen.NUMERIC)).collect()
            nulls = profile.null_counts(res.df).collect()
        text = report.render_report(
            res, title="HR cleaning report",
            profile_lines=[f"{r['column']}: mean {r['mean']}" for r in desc])
        report_path = writers.write_report(text, out)
        rows_out = res.row_counts[-1][2]
        return {"stage_rows": [r[2] for r in res.row_counts], "out": out,
                "report": report_path, "n_rows": rows_out,
                "desc_counts": [int(r["count"]) for r in desc],
                "nulls": [int(r["null_count"]) for r in nulls]}

    def check(self, uid, pass_no, result) -> bool:
        want = self.plan.stage_rows(first_pass=uid == 0)
        rows_out = want[-1]
        written = 0
        for name in os.listdir(result["out"]):
            if name.endswith(".csv"):
                with open(os.path.join(result["out"], name), encoding="utf-8") as fh:
                    written += max(0, sum(1 for _ in fh) - 1)
        with open(result["report"], encoding="utf-8") as fh:
            report_ok = f"Final row count: {rows_out}" in fh.read()
        return (result["stage_rows"] == want and written == rows_out
                and report_ok and not any(result["nulls"])
                and len(result["desc_counts"]) == len(hrgen.NUMERIC)
                and all(c == rows_out for c in result["desc_counts"]))

    def close(self) -> None:
        pass


def make(name: str, work_dir: str, seed: int):
    """The workload called ``name``."""
    tiny = os.path.join(DATA, "sf0.001")
    if name == "registry_tiny":
        def oracle():
            import __spark_entry__

            return DuckOracle(tiny, __spark_entry__.oracle_sql())
        return RegistryWorkload(REGISTRY_SAMPLE, tiny, oracle, seed)
    if name == "wrangle_loop":
        return WrangleWorkload(work_dir, seed)
    raise SystemExit(f"unknown workload {name!r}")
