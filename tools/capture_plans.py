#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries into plans/$PLANS_ROUND/ (default r10).

Usage:
  python tools/capture_plans.py before [names...]   # default: all HEADLINE
  python tools/capture_plans.py after  [names...]

Writes plans/<round>/<query>_<tag>.txt with the formatted physical plan of
the exact registry callable the bench times (bench OVERRIDES excluded —
those time pre-shared intermediates; their registry plans are what the
judge audits). The plan is the final frame's, taken before that frame
executes (AdaptiveSparkPlan isFinalPlan=false) — the static shape
(Exchange count, join strategy, PushedFilters, codegen spans) is what the
optimization evidence cites. Building a query is not job-free: operators
that materialize intermediates (pagerank's edge list and degree join,
checkpointed trainers) run those jobs while the callable builds the
frame, and the captured plan reads them back as ``Scan ExistingRDD``.

Expression ids (``#<n>``), exchange ``plan_id=<n>`` and RDD ``[<n>]`` ids
are stripped: they count up per session, so without the strip every
capture differs from every other. The random names of the ``fdps_*`` temp
dirs and memory tables that streaming and store queries create are masked
to ``fdps_*`` for the same reason. A before/after diff of two captures is
then empty exactly when the plans are the same.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SESSION_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+(?=\])")
_TEMP_NAMES = re.compile(r"\bfdps_\w+")


def normalize(plan: str) -> str:
    """Drop the per-session counters and temp names from a formatted plan."""
    plan = _SESSION_IDS.sub(lambda m: "#" if m.group().startswith("#") else "", plan)
    return _TEMP_NAMES.sub("fdps_*", plan)


def main() -> None:
    tag = sys.argv[1]
    assert tag in ("before", "after"), "tag must be before|after"
    names = sys.argv[2:]

    from bench import HEADLINE
    from finance_data_pipeline_spark.registry import QUERIES
    from finance_data_pipeline_spark.session import get_spark

    if not names:
        names = list(HEADLINE)

    out_dir = os.path.join(REPO, "plans", os.environ.get("PLANS_ROUND", "r10"))
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name=f"capture-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(normalize(txt))
        print(f"{name}: wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
