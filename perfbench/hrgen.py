"""Seeded dirty HR table for the ``wrangle_loop`` workload.

The table has the column layout of the reference's ``dirty_hr.csv``
(``tests/fixtures_hr.py``), scaled up, with every quirk planted at a known
count so the row count after each cleaning stage is known by construction:

- ``last_promo_date`` is empty on ``promo_empty`` rows and holds the ``N/A``
  sentinel on ``promo_na`` rows: the drop-null stage removes exactly these;
- ``age`` / ``salary`` / ``bonus_percent`` / ``performance_score`` carry
  empty cells and ``N/A`` sentinels, which the median fill removes without
  changing the row count;
- ``outliers`` rows carry an age or salary far outside mean ± 3σ of the
  rest; every other value lies inside those bounds for any mix the
  generator can produce (uniform base values lie within 0.58σ of their
  mean), so the 3-sigma stage removes exactly these;
- ``join_date`` is ISO on most rows and ``MM/dd/yyyy`` on ``us_dates`` rows;
  both parse, so the date stage leaves no nulls;
- ``duplicates`` clean rows appear twice, byte for byte: the dedup stage
  removes exactly one copy of each.

Quirks never share a row, so the counts add up independently.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

HEADER = ("employee_id,name,age,department,salary,join_date,last_promo_date,"
          "bonus_percent,performance_score,left_company")
DEPARTMENTS = ("Engineering", "Marketing", "HR", "Customer Support", "Sales")
NUMERIC = ("age", "salary", "bonus_percent", "performance_score")


@dataclass(frozen=True)
class HrPlan:
    """Planted counts; ``rows_in`` is the CSV's data-row count."""

    base_rows: int
    promo_empty: int
    promo_na: int
    outliers: int
    duplicates: int
    us_dates: int
    numeric_nulls: int

    @property
    def rows_in(self) -> int:
        return self.base_rows + self.duplicates

    @property
    def rows_out(self) -> int:
        return self.base_rows - self.promo_empty - self.promo_na - self.outliers

    def stage_rows(self, first_pass: bool) -> list[int]:
        """Rows out of each stage of ``CLEAN_SPEC``, in order. Later passes
        read an already clean table, where every stage keeps every row."""
        if not first_pass:
            return [self.rows_out] * len(CLEAN_SPEC)
        after_drop = self.rows_in - self.promo_empty - self.promo_na
        after_sigma = after_drop - self.outliers
        return [self.rows_in, after_drop, after_drop, after_sigma,
                after_sigma, after_sigma - self.duplicates]


#: The cleaning pipeline, as a declarative ``Pipeline.from_spec`` spec.
CLEAN_SPEC: list[dict] = [
    {"stage": "parse_join_date", "op": "parse_dates",
     "params": {"columns": ["join_date"]}},
    {"stage": "drop_null_promo", "op": "drop_null_rows",
     "params": {"subset": ["last_promo_date"]}},
    {"stage": "median_fill", "op": "fill_median",
     "params": {"columns": list(NUMERIC)}},
    {"stage": "sigma_filter", "op": "sigma_outlier_filter",
     "params": {"columns": ["age", "salary"], "k": 3.0}},
    {"stage": "cap_salary_p95", "op": "cap_percentile",
     "params": {"columns": ["salary"], "p": 0.95}},
    {"stage": "dedup", "op": "drop_duplicate_rows", "params": {}},
]


def plan_for(base_rows: int) -> HrPlan:
    """Quirk counts as fixed shares of ``base_rows`` (outliers stay under
    1%, far below the ~10% at which 3σ stops separating them)."""
    return HrPlan(
        base_rows=base_rows,
        promo_empty=base_rows * 12 // 100,
        promo_na=base_rows * 3 // 100,
        outliers=base_rows // 200,
        duplicates=base_rows * 2 // 100,
        us_dates=base_rows * 30 // 100,
        numeric_nulls=base_rows * 4 // 100,
    )


def hr_csv_text(plan: HrPlan, seed: int) -> str:
    """The dirty CSV for ``plan``; the same seed gives the same bytes."""
    rng = random.Random(seed)
    n = plan.base_rows
    order = list(range(n))
    rng.shuffle(order)
    cursor = 0

    def take(k: int) -> list[int]:
        nonlocal cursor
        picked = order[cursor:cursor + k]
        cursor += k
        return picked

    promo_empty = take(plan.promo_empty)
    promo_na = take(plan.promo_na)
    outliers = take(plan.outliers)
    nulls = take(plan.numeric_nulls)
    dups = take(plan.duplicates)
    us_dates = set(rng.sample(range(n), plan.us_dates))

    rows: list[list[str]] = []
    for i in range(n):
        eid = 100001 + i
        y, m, d = 2010 + rng.randrange(14), 1 + rng.randrange(12), 1 + rng.randrange(28)
        join = f"{m:02d}/{d:02d}/{y}" if i in us_dates else f"{y}-{m:02d}-{d:02d}"
        py, pm, pd = 2018 + rng.randrange(6), 1 + rng.randrange(12), 1 + rng.randrange(28)
        rows.append([
            str(eid), f"Employee {eid}", f"{rng.uniform(28, 46):.1f}",
            DEPARTMENTS[i % len(DEPARTMENTS)], f"{rng.uniform(55000, 95000):.2f}",
            join, f"{py}-{pm:02d}-{pd:02d}", f"{rng.uniform(2, 12):.1f}",
            f"{rng.uniform(1, 5):.1f}", "True" if rng.random() < 0.15 else "False",
        ])
    for i in promo_empty:
        rows[i][6] = ""
    for i in promo_na:
        rows[i][6] = "N/A"
    for k, i in enumerate(outliers):
        if k % 2:
            rows[i][2] = f"{rng.uniform(95, 120):.1f}"
        else:
            rows[i][4] = f"{rng.uniform(1.5e6, 3e6):.2f}"
    for k, i in enumerate(nulls):
        rows[i][[2, 4, 7, 8][k % 4]] = "N/A" if k % 3 == 0 else ""
    lines = [HEADER]
    lines.extend(",".join(r) for r in rows)
    lines.extend(",".join(rows[i]) for i in dups)
    return "\n".join(lines) + "\n"
