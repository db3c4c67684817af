#!/usr/bin/env python
"""Dump `explain(formatted)` for every catalog query and flag plan
smells: Python row-UDFs (BatchEvalPython), cartesian products, and
single-partition windows outside the documented bounded-frame
allowlist.

Usage: python tools/audit_plans.py [sf_dir] > plans.txt

The same audit runs in CI as tests/test_plan_audit.py so the smells
can't regress silently.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMELLS = {
    "BatchEvalPython": "row-at-a-time Python UDF in plan",
    "CartesianProduct": "cartesian product (unbucketed cross join)",
}

# Fallback string detector (used only when no DataFrame is available):
# an unpartitioned windowspecdefinition starts with an ORDER expression
# (`col ASC/DESC NULLS ...`) or, for the unordered whole-frame case,
# directly with specifiedwindowframe. Partitioned windows lead with
# plain partition columns, which carry no ASC/DESC. NOTE: this regex
# misses order expressions containing parens/commas (e.g.
# date_trunc(...) ASC) — the structural check below is authoritative.
_UNPARTITIONED_WINDOW = re.compile(
    r"windowspecdefinition\(\s*(?:[^,()]*\s(?:ASC|DESC)|specifiedwindowframe)"
)


def unpartitioned_window_count(df) -> int:
    """Authoritative detector: walk the optimized logical plan as JSON
    and count Window nodes whose partitionSpec is empty — immune to how
    the order expressions render (parens, commas, nested functions)."""
    import json

    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return sum(
        1
        for n in nodes
        if n.get("class", "").endswith(".logical.Window")
        and not n.get("partitionSpec")
    )

# Queries where a single-partition window is the intended design: the
# windowed frame is provably bounded, independent of fact-table size.
WINDOW_OK = {
    # tiny-dimension surrogate keys (SURVEY §2.9): frame = |event types|
    "q10_event_type_dim",
    # whole-frame share-of-total over the per-status aggregate:
    # frame = |order statuses| (3)
    "q50_status_revenue_share",
    # rank-the-survivors after TakeOrderedAndProject: frame = k (50)
    "q106_weighted_sample",
    # rolling stats over the per-hour aggregate: frame = |hours in the
    # retention window| — bounded by calendar, not by row count
    "q115_rolling_view_purchase_corr",
    # balance-rank of the 60 fingerprint bits: frame = 60, constant
    "q304_simhash_balanced_banding",
}


def audit_plan(name: str, plan: str, df=None) -> list[str]:
    """Smell list for one query: string markers from the formatted
    physical plan, plus the structural unpartitioned-window check when
    the DataFrame is available (regex fallback otherwise)."""
    problems = [
        f"{name}: {why}" for marker, why in SMELLS.items() if marker in plan
    ]
    if name not in WINDOW_OK:
        global_windows = (
            unpartitioned_window_count(df)
            if df is not None
            else (1 if _UNPARTITIONED_WINDOW.search(plan) else 0)
        )
        if global_windows:
            problems.append(f"{name}: unpartitioned window over full data")
    return problems


def explain_formatted(df) -> str:
    em = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(em)


def is_bare_scan(df) -> bool:
    """True iff ``df``'s optimized plan is one scan of an existing RDD
    — what a (local)checkpointed frame reads."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LogicalRDD"


def audit_all(
    spark, sf_dir: str, emit=None, skip_eager: bool = False
) -> list[str]:
    """Smells over the whole catalog. Eager builders
    (``plans/core.is_eager``) return one checkpoint read, so auditing
    them is vacuous while building them costs minutes: ``skip_eager``
    (the fast CI tier) skips them; the full sweep builds them and
    checks the tag — an eager-tagged builder must return a bare
    checkpoint scan."""
    from movie_data_pipeline_spark.plans import REGISTRY
    from movie_data_pipeline_spark.plans.core import is_eager

    problems: list[str] = []
    for name, spec in sorted(REGISTRY.items()):
        eager = is_eager(spec)
        if skip_eager and eager:
            continue
        df = spec.build(spark, sf_dir)
        plan = explain_formatted(df)
        if emit:
            emit(f"{'=' * 30} {name}\n{plan}")
        problems.extend(audit_plan(name, plan, df=df))
        if eager and not is_bare_scan(df):
            problems.append(
                f"{name}: tagged eager but returned a plan, not a "
                "bare checkpoint scan"
            )
        # builders that persist intermediates (dedup family) must not
        # bleed cache into later plans
        spark.catalog.clearCache()
    return problems


def main() -> int:
    from movie_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    problems = audit_all(spark, sf_dir, emit=print)
    print(f"\n{'=' * 30} SUMMARY")
    if problems:
        for p in problems:
            print("SMELL:", p)
        return 1
    from movie_data_pipeline_spark.plans import REGISTRY

    print(f"{len(REGISTRY)} plans audited, no smells")
    return 0


if __name__ == "__main__":
    sys.exit(main())
