"""Run every registered query against its DuckDB oracle locally.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Each line gives the query's Spark job count: the jobs of its job group
(the query's name), which covers building, running and collecting it.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arrow_spark import get_spark
from arrow_spark.queries import load_all
from arrow_spark.testing.oracle import run_compare


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # comma-separated names to skip (scale sweeps exclude queries whose
    # ORACLE is by-design quadratic — the skip list is printed so no
    # exclusion is silent)
    skip = {s for s in os.environ.get("SPARK_GRAFT_CHECK_SKIP", "").split(",") if s}
    if skip:
        print(f"SKIP (by request): {','.join(sorted(skip))}")
    spark = get_spark("oracle-check")
    sc = spark.sparkContext
    qs = load_all()
    n_fail = 0
    for name, qd in sorted(qs.items()):
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        sc.setJobGroup(name, name)
        try:
            res = run_compare(spark, name, qd.fn, qd.oracle, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: EXCEPTION {type(e).__name__}: {e}")
            n_fail += 1
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.time() - t0
        # the status store is filled by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        status = "ok" if res.ok else "FAIL"
        extra = "" if res.ok else " | " + "; ".join(res.errors[:3])
        print(
            f"{status:4s} {name:28s} rows={res.row_count_spark}/{res.row_count_oracle} "
            f"jobs={jobs} {dt:5.1f}s{extra}"
        )
        n_fail += 0 if res.ok else 1
    print(f"\n{len(qs)} queries, {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
