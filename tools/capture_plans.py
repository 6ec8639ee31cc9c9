"""Capture `.explain("formatted")` output for catalog queries.

Usage: python tools/capture_plans.py <suffix> <name> [name...]

Writes plans/$SPARK_GRAFT_PLAN_DIR/<name>_<suffix>.txt (default r15) for each query, built against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1). Plan construction only —
the captured plan is never executed. Entries whose *build half* runs actions
still execute that half: the persisted-index entries, and two headline
entries that run bounded jobs while their plans are built —
events_zscore_outliers (collects its per-group threshold) and
similarity_topk_pq (trains its PQ codebooks as one parallelize job).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flusher_spark.plans.catalog import registry
from flusher_spark.session import get_session


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r15"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("plan_capture")
    reg = registry()
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
