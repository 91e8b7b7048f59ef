"""Dump .explain("formatted") for declared queries to plans/<tag>/.

Usage:
    python tools/explain_dump.py before            # all main-gate queries
    python tools/explain_dump.py after q1 q2 ...   # just the named ones

Writes plans/r13/<query>_<tag>.txt next to the repo root. The optimization
judge reads these files to check plan claims (Exchange counts, join
strategies, PushedFilters) against the code — capture them from the same
session config the bench uses (ecollector_spark.session.get_spark).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROUND = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ecollector_spark import driver_queries
    from ecollector_spark.session import get_spark

    driver_queries.load_all()
    spark = get_spark("explain-dump")
    registry = {**driver_queries.QUERIES, **driver_queries.SHELVED_QUERIES}
    names = [n for n in registry if not only or n in only]

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", ROUND
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = registry[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record the failure in the file
            plan = f"EXPLAIN FAILED: {exc!r}\n"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")


if __name__ == "__main__":
    main()
