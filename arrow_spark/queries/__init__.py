"""Query registry: every operator claimed in SURVEY.md §2 has a named
query here, each with a Spark callable ``(spark, sf_dir) -> DataFrame``
and (where SQL-expressible) a DuckDB oracle SQL string.

The driver compares both at sf0.01 (row count + schema + order-insensitive
value hash), so every computed column is aliased identically on both sides
and floating-point aggregates are rounded identically on both sides.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re

from arrow_spark.queries.base import REGISTRY, QueryDef, query  # noqa: F401

_MODULES = (
    "relational",
    "joins",
    "tpch",
    "tpch_ps",
    "windows",
    "functions_scalar",
    "temporal",
    "nested",
    "asof",
    "text",
    "retrieval_q",
    "graph_q",
    "similarity",
    "dedup",
    "corpus_q",
    "streaming_windows",
    "timeseries",
    "extras",
    "substrait_q",
    "tokenize_q",
    "evaluation_q",
    "stats_q",
    "analytics_w7",
    "profiling_q",
    "analytics_w8",
)


def _driver_verified(_max_round: int | None = None) -> dict[str, int]:
    """name → LATEST round in which the query was driver-green.

    ``_max_round`` restricts the scan to CORRECTNESS_r01..r{N} — used by
    the rotation_candidates.json consistency test to recompute the
    ordering from exactly the rounds the committed artifact saw, so the
    artifact stays self-consistent even after the driver writes a newer
    CORRECTNESS file.
    """
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        round_no = int(m.group(1)) if m else 0
        if _max_round is not None and round_no > _max_round:
            continue
        try:
            with open(path) as f:
                report = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in report.items():
            if isinstance(row, dict) and row.get("hash_match", row.get("rows_match")):
                seen[name] = max(seen.get(name, 0), round_no)
    return seen


def load_all() -> dict[str, QueryDef]:
    """Import every query module (side effect: fills REGISTRY).

    Returned in verification-priority order (``_rank_registry``), because
    the driver samples a prefix of this dict's order.
    """
    for mod in _MODULES:
        importlib.import_module(f"arrow_spark.queries.{mod}")
    verified = _driver_verified()
    return {name: REGISTRY[name] for name, _, _ in _rank_registry(verified)}


def _rank_registry(verified: dict[str, int]) -> list[tuple[str, int, int | None]]:
    """(name, block, last_green_round) in verification-priority order.

    Three blocks, module order breaking ties inside each:

    0. oracle-bearing and never driver-green — a sampled run can turn
       these hash-green, the strongest kind of row;
    1. oracle-bearing and driver-green — re-verification, OLDEST green
       round first, so the sample rotates through the whole green
       registry instead of re-checking the same prefix;
    2. rows-only (no oracle) — a sampled run can never hash-match them.

    The single source of truth for the ordering: load_all's dict order,
    tests/test_registry_order.py and the committed
    rotation_candidates.json all derive from here.
    """
    order = {k: i for i, k in enumerate(REGISTRY)}

    def rank(name: str, qd: QueryDef) -> tuple[int, int, int]:
        if qd.oracle is None:
            return 2, 0, order[name]
        if name in verified:
            return 1, verified[name], order[name]
        return 0, 0, order[name]

    ranked = sorted(REGISTRY.items(), key=lambda kv: rank(*kv))
    return [(name, rank(name, qd)[0], verified.get(name)) for name, qd in ranked]
