"""Dump .explain("formatted") for named queries to plans/<PLANS_TAG_DIR>/<q>_<tag>.txt.

Usage: python scripts/dump_plans.py <tag> <query> [query ...]

Runs at sf0.1 (the bench scale) so AQE-independent plan shape matches
the benched plan; iterative queries execute their loop during fn() —
the dumped plan is the final returned frame's, which is the honest
"what the sink executes" view the judge checks claims against.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arrow_spark import get_spark
from arrow_spark.queries import load_all

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("PLANS_TAG_DIR", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    qs = load_all()
    for name in names:
        try:
            df = qs[name].fn(spark, SF_DIR)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — report and continue
            print(f"SKIP {name}: {type(e).__name__}: {e}")
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"ok   {name} -> {path}")


if __name__ == "__main__":
    main()
