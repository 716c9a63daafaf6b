"""radius_join: brute-force equality, cell-boundary pairs, plan pin."""

from __future__ import annotations

import random

import pytest

from arrow_spark.operators.spatial import radius_join


def _run(spark, lpts, rpts, r):
    l = spark.createDataFrame(lpts, "id long, x long, y long")
    rt = spark.createDataFrame(rpts, "id long, x long, y long")
    out = radius_join(l, rt, "id", "id", radius=r)
    return {(p["lid"], p["rid"]): p["dist2"] for p in out.collect()}


def _brute(lpts, rpts, r):
    return {
        (li, ri): (lx - rx) ** 2 + (ly - ry) ** 2
        for li, lx, ly in lpts
        for ri, rx, ry in rpts
        if (lx - rx) ** 2 + (ly - ry) ** 2 <= r * r
    }


def test_radius_join_matches_brute_force(spark):
    rng = random.Random(3)
    lpts = [(i, rng.randint(0, 10_000), rng.randint(0, 10_000)) for i in range(40)]
    rpts = [(i, rng.randint(0, 10_000), rng.randint(0, 10_000)) for i in range(60)]
    for r in (500, 2000):
        assert _run(spark, lpts, rpts, r) == _brute(lpts, rpts, r)


def test_radius_join_boundary_inclusive(spark):
    got = _run(spark, [(1, 0, 0)], [(2, 300, 400)], r=500)  # dist exactly 500
    assert got == {(1, 2): 250_000}


def test_radius_join_adjacent_cell_pair_found(spark):
    # points in different grid cells but within r: the 9-cell probe
    # must find them (r=100: cells are 100 wide; 95 and 105 differ)
    got = _run(spark, [(1, 95, 50)], [(2, 105, 50)], r=100)
    assert got == {(1, 2): 100}


def test_radius_join_negative_coordinates(spark):
    got = _run(spark, [(1, -5, -5)], [(2, 5, 5)], r=100)
    assert got == {(1, 2): 200}


def test_radius_join_no_cartesian_plan(spark):
    l = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    rt = spark.createDataFrame([(2, 1, 1)], "id long, x long, y long")
    plan = (
        radius_join(l, rt, "id", "id", radius=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def _dbscan(spark, pts, eps, min_pts):
    from arrow_spark.operators.spatial import dbscan

    df = spark.createDataFrame(pts, "id long, x long, y long")
    return {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan(df, "id", eps=eps, min_pts=min_pts).collect()
    }


def test_dbscan_two_blobs_and_noise(spark):
    blob1 = [(1, 0, 0), (2, 10, 0), (3, 0, 10)]
    blob2 = [(11, 1000, 1000), (12, 1010, 1000), (13, 1000, 1010)]
    noise = [(99, 500, 500)]
    got = _dbscan(spark, blob1 + blob2 + noise, eps=20, min_pts=3)
    assert {got[i] for i in (1, 2, 3)} == {("core", 1)}
    assert {got[i] for i in (11, 12, 13)} == {("core", 11)}
    assert got[99] == ("noise", None)


def test_dbscan_border_point(spark):
    # 1,2,3 are mutually close (cores at min_pts=3: each sees 3 incl.
    # self); 4 is within eps of core 3 only (sees 2 -> not core)
    pts = [(1, 0, 0), (2, 5, 0), (3, 10, 0), (4, 25, 0)]
    got = _dbscan(spark, pts, eps=15, min_pts=3)
    assert got[1] == ("core", 1) and got[3] == ("core", 1)
    assert got[4] == ("border", 1)


def test_dbscan_chain_merges_through_cores(spark):
    # a chain at spacing 10, eps 12: interior points see 3 (prev, self,
    # next) -> core; ENDPOINTS see only 2 -> border. The transitive
    # closure must fuse all interior cores into one cluster (label =
    # smallest core id = 2) and attach the endpoints as borders.
    pts = [(i, 10 * i, 0) for i in range(1, 8)]
    got = _dbscan(spark, pts, eps=12, min_pts=3)
    clusters = {c for role, c in got.values() if role == "core"}
    assert clusters == {2}
    assert got[1] == ("border", 2) and got[7] == ("border", 2)


def test_dbscan_failing_components_frees_pairs(spark):
    # a 30-point chain of cores cannot close in one CC round: dbscan
    # raises and frees its persisted neighbor pairs on the way out
    from arrow_spark.operators.spatial import dbscan

    df = spark.createDataFrame(
        [(i, 10 * i, 0) for i in range(30)], "id long, x long, y long"
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        dbscan(df, "id", eps=12, min_pts=3, max_iter=1)
    assert persistent().size() <= before


def test_dbscan_keeps_only_the_generations_its_output_reads(spark):
    # the output reads the neighbor pairs and the core labels; CC's own
    # output generation is freed once the core labels have materialized
    from arrow_spark.operators.spatial import dbscan

    df = spark.createDataFrame([(i, i, 0) for i in range(8)], "id long, x long, y long")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    out = dbscan(df, "id", eps=2, min_pts=2)
    assert {r["cluster"] for r in out.collect()} == {0}
    assert len(set(persistent().keySet()) - before) == 2


def test_dbscan_singleton_core_cluster_is_own_id(spark):
    # min_pts=1: every point is core; isolated point = its own cluster
    pts = [(5, 0, 0), (9, 10_000, 10_000)]
    got = _dbscan(spark, pts, eps=10, min_pts=1)
    assert got[5] == ("core", 5) and got[9] == ("core", 9)


def test_knn_join_ranks_and_cap(spark):
    from arrow_spark.operators.spatial import knn_join

    l = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    r = spark.createDataFrame(
        [(10, 1, 0), (11, 2, 0), (12, 3, 0), (13, 500, 0)],
        "id long, x long, y long",
    )
    out = knn_join(l, r, "id", "id", k=2, radius_cap=100)
    got = [(p["rid"], p["rank"], p["dist2"]) for p in sorted(out.collect(), key=lambda p: p["rank"])]
    assert got == [(10, 1, 1), (11, 2, 4)]  # 12 cut by k, 13 by cap


def test_knn_join_tie_breaks_by_rid(spark):
    from arrow_spark.operators.spatial import knn_join

    l = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    r = spark.createDataFrame(
        [(20, 0, 5), (10, 5, 0)], "id long, x long, y long"
    )
    out = knn_join(l, r, "id", "id", k=1, radius_cap=100).collect()
    assert [(p["rid"], p["rank"]) for p in out] == [(10, 1)]


def test_knn_join_fewer_than_k_returns_what_exists(spark):
    from arrow_spark.operators.spatial import knn_join

    l = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    r = spark.createDataFrame([(10, 1, 1)], "id long, x long, y long")
    out = knn_join(l, r, "id", "id", k=5, radius_cap=100).collect()
    assert len(out) == 1
