"""Dump `.explain("formatted")` for every driver query into per-query text
files — the before/after plan evidence for optimization rounds.

Usage: python tools/plan_dump.py <out_dir> <suffix> [sf_dir] [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (all queries when none
are named). Plans are captured at sf0.001 by default: plan SHAPE (join
strategy, exchange count, pushdown) is what matters and is SF-independent;
AQE runtime re-optimization is not visible in a pre-execution explain either
way.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from flinkproject_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("plan-dump")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = entrymod.queries()
    targets = names or list(qs)
    for name in targets:
        try:
            plan = qs[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # keep going; a broken query shows up loudly
            plan = f"ERROR capturing plan: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"[plan] {name} -> {name}_{suffix}.txt", flush=True)


if __name__ == "__main__":
    main()
