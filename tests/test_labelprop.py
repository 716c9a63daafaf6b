"""label_propagation unit tests: known communities, determinism, ties."""

from __future__ import annotations

from arrow_spark.operators.labelprop import label_propagation


def test_lpa_two_cliques_converge_to_two_communities(spark):
    # two triangles joined by one weak bridge: LPA should settle on one
    # label per triangle (the bridge is outvoted)
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in tri1 + tri2 + bridge], "src long, dst long, w long"
    )
    out = {r["node"]: r["label"] for r in label_propagation(edges, n_iters=4).collect()}
    assert len(out) == 6
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_lpa_tiebreak_smallest_label(spark):
    # node 2 sees labels {1, 3} with equal weight after round 1's inputs:
    # the deterministic rule picks the smaller label
    edges = spark.createDataFrame(
        [(1, 2, 1), (3, 2, 1)], "src long, dst long, w long"
    )
    out = {r["node"]: r["label"] for r in label_propagation(edges, n_iters=1).collect()}
    assert out[2] == 1


def test_lpa_weight_beats_count(spark):
    # one heavy edge outvotes two light ones
    edges = spark.createDataFrame(
        [(1, 2, 10), (3, 2, 1), (4, 2, 1)], "src long, dst long, w long"
    )
    out = {r["node"]: r["label"] for r in label_propagation(edges, n_iters=1).collect()}
    assert out[2] == 1


def test_lpa_deterministic_across_runs(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7) % 23, 1 + i % 3) for i in range(40)],
        "src long, dst long, w long",
    )
    a = sorted(map(tuple, label_propagation(edges, n_iters=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, n_iters=3).collect()))
    assert a == b


def test_lpa_zero_rounds_labels_every_node_itself(spark):
    # no round runs: the result is the round-0 projection over the
    # symmetrized edge checkpoint, which must outlive the call
    edges = spark.createDataFrame([(1, 2, 1), (2, 3, 1)], "src long, dst long, w long")
    rows = label_propagation(edges, n_iters=0).collect()
    assert sorted((r["node"], r["label"]) for r in rows) == [(1, 1), (2, 2), (3, 3)]
