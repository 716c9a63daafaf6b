"""Reference answers the benchmark checks the engine's outputs against.

Registered queries with an oracle are compared with their DuckDB oracle
through ``arrow_spark.testing.oracle.compare_frames``; the oracle's
result is cached on disk by a digest of the oracle SQL and the input
files, so repeated runs on the same inputs skip DuckDB.

The graph operators are compared with small driver-side (numpy/pandas)
implementations computed from the same seeded edge files. Everything
integer must match exactly; PageRank's doubles must match within
``PAGERANK_TOL``, because the engine and numpy sum contributions in
different orders before both snap to 1e-9.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

#: absolute tolerance on PageRank scores: both sides snap to 1e-9, so a
#: reordered sum can flip at most one snapping step.
PAGERANK_TOL = 2e-9


class RefClock:
    """Accumulates the time spent computing references, so set-up time
    can leave it out."""

    def __init__(self):
        self.seconds = 0.0

    @contextmanager
    def timing(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds += time.perf_counter() - t0


def parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [path]


def read_parquet(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    files = parquet_files(path)
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def dir_digest(data_dir: str) -> str:
    """Content digest of every parquet file under ``data_dir`` (part-file
    names carry random ids, so files are keyed by their bytes)."""
    per_table = []
    for entry in sorted(os.listdir(data_dir)):
        hashes = []
        for f in parquet_files(os.path.join(data_dir, entry)):
            with open(f, "rb") as fh:
                hashes.append(hashlib.sha256(fh.read()).hexdigest())
        per_table.append(entry + ":" + ",".join(sorted(hashes)))
    return hashlib.sha256("\n".join(per_table).encode()).hexdigest()


class OracleCache:
    """DuckDB oracle results keyed by (input digest, oracle SQL)."""

    def __init__(self, data_dir: str, cache_dir: str, clock: RefClock):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.clock = clock
        self._digest = None
        self._con = None

    def _connection(self):
        import duckdb

        if self._con is None:
            self._con = duckdb.connect()
            for entry in sorted(os.listdir(self.data_dir)):
                if not entry.endswith(".parquet"):
                    continue
                path = os.path.join(self.data_dir, entry)
                src = f"{path}/*.parquet" if os.path.isdir(path) else path
                self._con.sql(
                    f"CREATE OR REPLACE VIEW {entry[:-8]} AS SELECT * FROM '{src}'"
                )
        return self._con

    def result(self, sql: str) -> pd.DataFrame:
        with self.clock.timing():
            if self._digest is None:
                self._digest = dir_digest(self.data_dir)
            key = hashlib.sha256((self._digest + "\n" + sql).encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"oracle-{key}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:  # written by this module only
                    return pickle.load(f)
            pdf = self._connection().sql(sql).df()
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(pdf, f)
            os.replace(tmp, path)
            return pdf

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


# ---------------------------------------------------------------------------
# graph references, from the (src, dst, w) edge frame
# ---------------------------------------------------------------------------


def _snap9(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 1e9 + 0.5) / 1e9


def pagerank(edges: pd.DataFrame, n_iters: int, damping: float = 0.85) -> dict:
    src = edges["src"].to_numpy()
    dst = edges["dst"].to_numpy()
    w = edges["w"].to_numpy().astype(np.float64)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    si, di = inv[: len(src)], inv[len(src):]
    ow = np.bincount(si, weights=w, minlength=n)
    dangling = ow == 0
    r = np.full(n, 1.0 / n)
    for _ in range(max(1, n_iters)):
        s = np.bincount(di, weights=r[si] * w / ow[si], minlength=n)
        d = r[dangling].sum()
        r = _snap9((1 - damping) / n + damping * (s + d / float(n)))
    return dict(zip(nodes.tolist(), r.tolist()))


def _undirected_multi(edges: pd.DataFrame) -> pd.DataFrame:
    e = edges[["src", "dst", "w"]].rename(columns={"src": "u", "dst": "v"})
    return pd.concat([e, e.rename(columns={"u": "v", "v": "u"})], ignore_index=True)


def label_propagation(edges: pd.DataFrame, n_iters: int) -> dict:
    und = _undirected_multi(edges)
    labels = pd.Series(np.unique(und["u"]), index=np.unique(und["u"]))
    for _ in range(n_iters):
        votes = und.assign(label=labels.reindex(und["v"]).to_numpy())
        s = votes.groupby(["u", "label"], as_index=False)["w"].sum()
        s = s.sort_values(["u", "w", "label"], ascending=[True, False, True])
        best = s.drop_duplicates("u")
        labels = pd.Series(best["label"].to_numpy(), index=best["u"].to_numpy())
    return labels.to_dict()


def canonical(edges: pd.DataFrame) -> pd.DataFrame:
    e = edges[edges["src"] != edges["dst"]]
    lo = np.minimum(e["src"], e["dst"])
    hi = np.maximum(e["src"], e["dst"])
    return pd.DataFrame({"lo": lo, "hi": hi}).drop_duplicates().reset_index(drop=True)


def _degrees(und: pd.DataFrame) -> pd.Series:
    return pd.concat([und["lo"], und["hi"]]).value_counts()


def k_core(edges: pd.DataFrame, k: int, rounds: int) -> dict:
    cur = canonical(edges)
    for _ in range(rounds):
        deg = _degrees(cur)
        alive = set(deg[deg >= k].index)
        cur = cur[cur["lo"].isin(alive) & cur["hi"].isin(alive)]
    return _degrees(cur).to_dict()


def _triangles(und: pd.DataFrame) -> pd.DataFrame:
    """(u, v, w) triangles with u < v < w, over canonical (lo, hi) edges."""
    legs = und.rename(columns={"lo": "u", "hi": "v"})
    wedges = legs.merge(legs.rename(columns={"v": "w"}), on="u")
    wedges = wedges[wedges["v"] < wedges["w"]]
    closers = und.rename(columns={"lo": "v", "hi": "w"})
    return wedges.merge(closers, on=["v", "w"])


def _support(und: pd.DataFrame) -> pd.Series:
    tri = _triangles(und)
    pairs = pd.concat(
        [
            tri[["u", "v"]].set_axis(["lo", "hi"], axis=1),
            tri[["u", "w"]].set_axis(["lo", "hi"], axis=1),
            tri[["v", "w"]].set_axis(["lo", "hi"], axis=1),
        ]
    )
    return pairs.groupby(["lo", "hi"]).size()


def k_truss(edges: pd.DataFrame, k: int, rounds: int) -> dict:
    cur = canonical(edges)
    for _ in range(rounds):
        sup = _support(cur)
        keep = set(sup[sup >= k - 2].index)
        cur = cur[[(a, b) in keep for a, b in zip(cur["lo"], cur["hi"])]]
    sup = _support(cur)
    return {(a, b): int(sup.get((a, b), 0)) for a, b in zip(cur["lo"], cur["hi"])}


def triangles_per_vertex(edges: pd.DataFrame) -> dict:
    tri = _triangles(canonical(edges))
    return pd.concat([tri["u"], tri["v"], tri["w"]]).value_counts().to_dict()


def shortest_paths(edges: pd.DataFrame, sources: list[int], n_iters: int) -> dict:
    adj: dict[int, set] = {}
    for a, b in zip(edges["src"].tolist(), edges["dst"].tolist()):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for step in range(1, n_iters + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = step
                    nxt.add(v)
        frontier = nxt
    return dist


def connected_components(edges: pd.DataFrame) -> dict:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["src"].tolist(), edges["dst"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def diff_maps(name: str, got: dict, want: dict, tol: float = 0.0) -> str | None:
    """None when the two maps agree (values within ``tol``), else a short
    description of the first differences."""
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return f"{name}: keys differ ({len(got)} vs {len(want)}; missing {missing}, extra {extra})"
    bad = [k for k in want if abs(got[k] - want[k]) > tol]
    if bad:
        k = bad[0]
        return f"{name}: {len(bad)} values differ, e.g. {k}: {got[k]!r} vs {want[k]!r}"
    return None
