"""The driver samples a prefix of the registry in insertion order, so
``load_all`` must float never-driver-verified queries to the front
(oracle-bearing before rows-only) and sink already-verified ones."""

from arrow_spark.queries import _driver_verified, load_all

QUERIES = load_all()
VERIFIED = _driver_verified()


def _block(name: str) -> int:
    qd = QUERIES[name]
    if qd.oracle is None:
        return 2  # rows-only: below re-verification
    return 1 if name in VERIFIED else 0


def test_blocks_are_monotonic():
    blocks = [_block(n) for n in QUERIES]
    assert blocks == sorted(blocks)


def test_no_verified_query_before_an_unverified_oracle_query():
    names = list(QUERIES)
    if not VERIFIED:
        return
    first_verified = min(names.index(n) for n in VERIFIED)
    unverified_oracle = [
        i
        for i, n in enumerate(names)
        if n not in VERIFIED and QUERIES[n].oracle is not None
    ]
    assert all(i < first_verified for i in unverified_oracle)


def test_reverification_rotates_oldest_green_first():
    """Post-saturation contract (COVERAGE.md round-8): within the
    already-green block, queries last green in an OLDER round sort
    before queries green more recently — the 50-slot sample sweeps the
    whole green registry in ~6 rounds, so a silent regression cannot
    hide longer than the rotation period."""
    names = list(QUERIES)
    green_rounds = [
        VERIFIED[n]
        for n in names
        if n in VERIFIED and QUERIES[n].oracle is not None and _block(n) == 1
    ]
    assert green_rounds == sorted(green_rounds)


def test_rotation_candidates_artifact_consistent():
    """rotation_candidates.json (VERDICT r11 #6) must equal the ordering
    recomputed from exactly the CORRECTNESS rounds it says it saw — the
    driver's sample and the repo's bookkeeping cannot drift. Regenerate
    with scripts/gen_rotation_candidates.py after each driver round."""
    import json
    import os

    from arrow_spark.queries import _rank_registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "rotation_candidates.json")) as f:
        artifact = json.load(f)
    max_round = max(artifact["rounds_seen"])
    verified = _driver_verified(max_round)
    expected = [
        {"name": name, "block": block, "last_green_round": last}
        for name, block, last in _rank_registry(verified)
    ]
    assert artifact["order"] == expected
