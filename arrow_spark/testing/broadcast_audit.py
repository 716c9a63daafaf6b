"""Corpus-scale broadcast hazard detection — the round-11 excise-OOM
class of bug, as a mechanical regression gate.

Rubric (SCALE.md round-11): a BroadcastExchange is safe exactly when
the build side's size ESTIMATE tracks the data. Scan-derived frames
and constant-fan-out explodes qualify; frames derived from AGGREGATES
(distinct grams, token dfs, collect_list postings) or DATA-DEPENDENT
explodes (sequence over interval lengths, shingle fan-out) do not —
Catalyst's estimate is unrelated to their true size, so the broadcast
never auto-disables as the corpus grows. At gen-sf3 that was a 6.8 GiB
build; at 100 TB it is a driver OOM on the first query.

This module reduces an executed-plan string to a multiset of FLAG
SIGNATURES — one per BroadcastExchange whose build subtree contains a
Generate (explode) or an aggregate node — so
``tests/test_broadcast_gate.py`` can diff every registered query's
current flags against a committed, human-classified allowlist
(``tests/data/broadcast_allowlist.json``). A flag is not automatically
a bug (query-side frames and constant-fan-out explodes flag by
design); an UNCLASSIFIED flag is — it means a new or re-planned query
broadcasts an estimate-blind frame nobody has justified as bounded.

Signatures are lexical and id-free: kind set (explode / agg / ckpt)
plus the operator NAME of the first node under the exchange, so they
are stable across sessions while still distinguishing the exchanges
within one query. Plan node ids, expression ids, and codegen stage
numbers are stripped.

r13 addition — the CHECKPOINT blind spot: a ``localCheckpoint`` (or a
driver-created frame) scans as ``Scan ExistingRDD``, which hides the
origin subtree from this audit — a broadcast of a checkpointed
AGGREGATE-derived corpus frame showed no Generate/agg under the
exchange and sailed through the r12 gate (found live in
dedup_semantic_prune: Catalyst elected the full cluster-assignment
side as build because the checkpoint PRESERVED its fixture-scale
origin estimate — the r12 ckpt_reset_stats discovery, in broadcast
form). Builds whose subtree reaches an ExistingRDD leaf with NO
visible agg/explode now flag as kind "ckpt"; builds where agg/explode
are already visible keep their existing signature (the prior
classification already covers them).

The "ckpt" kind cannot tell the two checkpoint shapes apart, and both
still flag. A bare ``localCheckpoint`` frame carries its origin
estimate, which does not track the data: that is the hazard. A
``ckpt_reset_stats`` generation carries its MEASURED stored bytes, so
its broadcast is size-tracked like a scan's and turns itself off above
the threshold; its allowlist entries are classified as measured.
"""

from __future__ import annotations

import json
import os
import re

#: Aggregate physical nodes — any of these in a broadcast build subtree
#: means the build side's row count is a GROUP count (distinct keys,
#: vocabulary size, posting lists), which Catalyst cannot estimate.
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" +-:"))


def _op_name(line: str) -> str:
    """Operator name of a plan line, stripped of tree art / codegen ids."""
    s = re.sub(r"^[\s+\-:*]+", "", line)
    s = re.sub(r"^\(\d+\)\s*", "", s)  # whole-stage codegen '(3) '
    name = re.split(r"[ (\[]", s, maxsplit=1)[0]
    return name or s[:40]


def audit_plan_text(plan: str) -> list[dict]:
    """Flags for every hazardous BroadcastExchange in a plan string.

    Returns a list (one entry per flagged exchange, duplicates kept —
    the gate compares MULTISETS so a second identical-signature
    exchange still fails until classified) of dicts:
    ``{"kinds": [...], "anchor": op}`` where kinds ⊆ {"explode",
    "agg"} and anchor is the first operator under the exchange.
    """
    lines = plan.splitlines()
    flags = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        ind = _indent(ln)
        kinds: set[str] = set()
        anchor = ""
        for nxt in lines[i + 1:]:
            if nxt.strip() and _indent(nxt) <= ind:
                break
            if not nxt.strip():
                continue
            # match the PARSED operator name, not the raw line: a column
            # alias containing "Generate"/"HashAggregate" (e.g.
            # `GeneratedAt`) in an expression list must not false-flag
            # the exchange (ADVICE r12)
            op = _op_name(nxt)
            if not anchor:
                anchor = op
            if op == "Generate":
                kinds.add("explode")
            if op in _AGG_NODES:
                kinds.add("agg")
            if op == "Scan" and "ExistingRDD" in nxt:
                kinds.add("ckpt")
        # "ckpt" marks the PREVIOUSLY-INVISIBLE shape only: if an
        # agg/explode is already visible in the build subtree, the
        # pre-r13 signature (and its human classification) covers the
        # exchange — keep it stable.
        if "ckpt" in kinds and kinds != {"ckpt"}:
            kinds.discard("ckpt")
        if kinds:
            flags.append({"kinds": sorted(kinds), "anchor": anchor})
    return flags


def flag_signature(flag: dict) -> str:
    return f"{','.join(flag['kinds'])}|{flag['anchor']}"


def signatures(plan: str) -> list[str]:
    """Sorted multiset of flag signatures for a plan string."""
    return sorted(flag_signature(f) for f in audit_plan_text(plan))


def allowlist_path() -> str:
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(root, "tests", "data", "broadcast_allowlist.json")


def load_allowlist() -> dict:
    with open(allowlist_path()) as f:
        return json.load(f)
