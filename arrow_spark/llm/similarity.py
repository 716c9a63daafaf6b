"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast cross join
with the distance computed by JVM higher-order functions (zip_with +
aggregate), then a per-query top-k window — no Python in the loop.

The scale path is LSH bucketing (random-hyperplane signs): candidates
are generated by an equi-join on bucket signature, turning O(n·q) into
a shuffle-partitioned join; recall is tunable via #planes / #tables.
At 100 TB: queries broadcast, corpus stays partitioned, and only
candidate pairs pay the exact-distance cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..checkpoint import Generations, ckpt_release


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_similarity(a, b):
    """Cosine similarity of two array<double> Columns, computed with
    sequential JVM folds (deterministic order, codegen'd)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    nb = F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    return dot / (F.sqrt(na) * F.sqrt(nb))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side by construction); corpus partitions
    stream once. Per-query top-k is a rank window partitioned by query —
    shuffle keyed on qid, balanced for many queries.
    """
    c = corpus.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"))
    q = queries.select(
        F.col(query_id_col).alias("qid"), _as_double(F.col(query_vec_col)).alias("qv")
    )
    pairs = c.crossJoin(F.broadcast(q)).where(F.col("nid") != F.col("qid"))
    scored = pairs.select(
        "qid", "nid", cosine_similarity(F.col("qv"), F.col("nv")).alias("cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


def lsh_signature(vec, planes: list[list[float]]):
    """Random-hyperplane LSH: sign-bit string of ⟨v, p_i⟩ per plane.

    planes is a fixed (seeded) list of unit vectors; the signature is a
    codegen'd concat of sign bits — no UDF.
    """
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing the query's LSH
    bucket are scored. The bucket join is a plain equi-join — at scale it
    shuffles on the signature instead of cross-joining."""
    c = corpus.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"))
    c = c.withColumn("sig", lsh_signature(F.col("nv"), planes))
    q = queries.select(
        F.col(query_id_col).alias("qid"), _as_double(F.col(query_vec_col)).alias("qv")
    )
    q = q.withColumn("sig", lsh_signature(F.col("qv"), planes))
    pairs = c.join(F.broadcast(q), "sig").where(F.col("nid") != F.col("qid"))
    scored = pairs.select(
        "qid", "nid", cosine_similarity(F.col("qv"), F.col("nv")).alias("cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


def deterministic_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes (driver-side constants; tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signatures_vectorized(planes: list[list[float]], n_tables: int):
    """Arrow-batched multi-table signatures: one numpy matmul per batch.

    Returns a pandas_udf Column-producer: vec → array of n_tables
    sign-bit strings. For many planes (e.g. 12 tables × 8 planes = 96
    dot products/row) the batched (rows × dim) @ (dim × planes) BLAS
    matmul replaces 96 separate codegen'd fold expressions — the one
    place the JVM fold loses: Catalyst compiles a giant expression tree
    (~6 s codegen at 96 folds, measured) and evaluates folds row-wise,
    while the matmul is a single vectorized kernel per Arrow batch.
    Signs (≥ 0) match lsh_signature exactly — equality is unit-tested.
    """
    import numpy as np
    import pandas as pd

    mat = np.asarray(planes, dtype=np.float64).T  # dim × (tables·planes_per)
    per = mat.shape[1] // n_tables

    def _sigs(vecs):  # no hints: explicit returnType below drives the UDF type
        arr = np.vstack(vecs.to_numpy())  # rows × dim
        bits = (arr @ mat) >= 0  # rows × (tables·per)
        out = []
        for row in bits:
            out.append(
                [
                    "".join("1" if b else "0" for b in row[t * per : (t + 1) * per])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    # explicit returnType form: `from __future__ import annotations`
    # stringifies hints, which the decorator's type inference rejects
    return F.pandas_udf(_sigs, "array<string>")


# -- int8 scalar quantization ------------------------------------------------


def quantization_params(
    corpus: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the affine int8
    codebook. One posexplode + one (dim)-keyed agg; the result is dim
    rows of index METADATA (like IVF centroids), collected and re-entered
    as literals so quantization itself is a pure projection."""
    rows = (
        corpus.select(F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [(r["mn"], r["mx"]) for r in rows]


def quantize_embeddings(
    df: DataFrame,
    params: list[tuple[float, float]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Affine int8 quantization: each dimension maps [mn, mx] → [-127,
    127] (code = floor((v-mn)/(mx-mn)·254 + 0.5) − 127; constant dims
    code to 0). 4× memory cut for ANN shortlists with a deterministic,
    UDF-free projection — `transform` with the positional lambda keeps
    it codegen'd; the params arrays are broadcast literals."""
    mn_arr = F.array(*[F.lit(float(mn)) for mn, _ in params])
    mx_arr = F.array(*[F.lit(float(mx)) for _, mx in params])
    codes = F.transform(
        _as_double(F.col(vec_col)),
        lambda v, i: F.when(
            F.element_at(mx_arr, i + 1) == F.element_at(mn_arr, i + 1), F.lit(0)
        )
        .otherwise(
            F.floor(
                (v - F.element_at(mn_arr, i + 1))
                / (F.element_at(mx_arr, i + 1) - F.element_at(mn_arr, i + 1))
                * 254
                + F.lit(0.5)
            )
            - 127
        )
        .cast("int"),
    )
    return df.withColumn(out_col, codes)


def dequantize(codes_col, params: list[tuple[float, float]]):
    """Inverse affine map (array<int> codes → array<double>): the
    round-trip error per element is ≤ (mx−mn)/254/2 by construction."""
    mn_arr = F.array(*[F.lit(float(mn)) for mn, _ in params])
    mx_arr = F.array(*[F.lit(float(mx)) for _, mx in params])
    return F.transform(
        codes_col,
        lambda c, i: F.element_at(mn_arr, i + 1)
        + (c.cast("double") + 127)
        / 254
        * (F.element_at(mx_arr, i + 1) - F.element_at(mn_arr, i + 1)),
    )


# -- IVF (inverted-file) ANN -------------------------------------------------


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_centroids(vectors: DataFrame, cents, vec_col: str,
                       id_col: str, n_take: int) -> DataFrame:
    """Attach the n_take nearest centroid ids to each vector row.

    Centroids are k rows of index METADATA (they already round-trip the
    driver via localCheckpoint init/collect), so they ride into the
    task as broadcast constants and argmin is MAP-ONLY: one BLAS matmul
    per Arrow batch (d² = |v|² − 2v·C + |C|², stable argsort breaks
    ties toward the lower cid). No join, no window, no shuffle — at
    100 TB each Lloyd iteration touches the corpus exactly once with
    zero exchange. Two rejected alternatives, both measured: the
    crossJoin+row_number plan shuffles corpus×k rows per iteration; a
    codegen'd per-centroid fold over k×dim array literals pays ~1.5 s
    of Catalyst compile PER ITERATION (same lesson as
    lsh_signatures_vectorized — many folds lose to one matmul).

    ``cents`` is either a (cid, cv) DataFrame (the public index
    contract, e.g. from read_ivf_index) or an already-driver-side list
    of (cid, cv) pairs — the r14 Lloyd loops keep centroid state in
    Python between iterations, so the per-iteration collect-a-
    checkpoint round trip disappears."""
    import numpy as np
    import pandas as pd

    if isinstance(cents, DataFrame):
        cent_rows = sorted(
            ((r["cid"], r["cv"]) for r in cents.select("cid", "cv").collect()),
            key=lambda t: t[0],
        )
    else:
        cent_rows = sorted(cents, key=lambda t: t[0])
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.asarray([cv for _, cv in cent_rows], dtype=np.float64)  # k × dim
    c_sq = (cmat * cmat).sum(axis=1)
    n = min(n_take, len(cids))

    def _top_cids(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        v = np.vstack(vecs.to_numpy())
        d2 = (v * v).sum(axis=1)[:, None] - 2.0 * (v @ cmat.T) + c_sq[None, :]
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n]
        return pd.Series([cids[row].tolist() for row in idx])

    top = F.pandas_udf(_top_cids, "array<long>")
    return vectors.select("*", F.explode(top(F.col(vec_col))).alias("cid"))


def _assign_mean_partials(vectors: DataFrame, cents, vec_col: str) -> DataFrame:
    """Fused Lloyd E+M step (r14): one Arrow pass assigns every vector
    to its nearest centroid (the exact `_nearest_centroids` d² matmul +
    first-minimum argmin) AND reduces each batch to per-(cid, dim)
    partial sums. Output is (cid, pos, cnt, psum) — k·dim rows per
    Arrow batch — so the only shuffle a Lloyd iteration pays is over
    O(k·dim·n_batches) partials with map-side combine, not the
    corpus·dim posexplode of the r13 shape. At 100 TB that retires a
    64-128× row-inflation shuffle per iteration; the assignment itself
    never leaves the task."""
    import numpy as np
    import pandas as pd

    cent_rows = sorted(cents, key=lambda t: t[0])
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.asarray([cv for _, cv in cent_rows], dtype=np.float64)  # k × dim
    c_sq = (cmat * cmat).sum(axis=1)
    k, dim = cmat.shape

    def _partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy())
            d2 = (v * v).sum(axis=1)[:, None] - 2.0 * (v @ cmat.T) + c_sq[None, :]
            ci = np.argmin(d2, axis=1)  # first minimum == stable-argsort head
            sums = np.zeros((k, dim), dtype=np.float64)
            np.add.at(sums, ci, v)  # unbuffered scatter-add, row order
            cnts = np.bincount(ci, minlength=k)
            present = np.flatnonzero(cnts)
            yield pd.DataFrame(
                {
                    "cid": np.repeat(cids[present], dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int32), len(present)),
                    "cnt": np.repeat(cnts[present], dim),
                    "psum": sums[present].ravel(),
                }
            )

    return vectors.mapInPandas(
        _partials, "cid long, pos int, cnt long, psum double"
    )


def _mean_partials_from_assigned(
    assigned: DataFrame, key_cols: list[str], vec_col: str
) -> DataFrame:
    """Per-batch (key..., pos, cnt, psum) partials over a frame that
    already carries its cluster key(s) — the closing M-step over the
    checkpointed final assignment (no re-assignment needed)."""
    import numpy as np
    import pandas as pd

    def _partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy())
            dim = v.shape[1]
            keys = list(zip(*(pdf[kc] for kc in key_cols)))
            uniq = sorted(set(keys))
            idx = {key: j for j, key in enumerate(uniq)}
            ki = np.array([idx[key] for key in keys], dtype=np.int64)
            sums = np.zeros((len(uniq), dim), dtype=np.float64)
            np.add.at(sums, ki, v)
            cnts = np.bincount(ki, minlength=len(uniq))
            cols = {
                kc: np.repeat([key[j] for key in uniq], dim)
                for j, kc in enumerate(key_cols)
            }
            cols["pos"] = np.tile(np.arange(dim, dtype=np.int32), len(uniq))
            cols["cnt"] = np.repeat(cnts, dim)
            cols["psum"] = sums.ravel()
            yield pd.DataFrame(cols)

    key_schema = ", ".join(f"{kc} long" for kc in key_cols)
    return assigned.mapInPandas(
        _partials, f"{key_schema}, pos int, cnt long, psum double"
    )


def _assemble_means(rows, key_cols=None, key_len: int | None = None) -> dict:
    """Driver-side reassembly of collected (key..., pos, m) mean rows
    into {key_tuple: [mean_0..mean_{dim-1}]} (replaces the old
    collect_list/array_sort Spark-side assembly — the rows are
    k·dim index metadata)."""
    n_key = key_len if key_len is not None else len(key_cols)
    by_key: dict = {}
    for r in rows:
        key = tuple(r[i] for i in range(n_key))
        by_key.setdefault(key, []).append((r["pos"], r["m"]))
    return {
        key: [mv for _, mv in sorted(pairs)] for key, pairs in by_key.items()
    }


def ivf_train_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means → (cid, cv) centroid frame.

    Init = the n_clusters lowest-id vectors (no RNG). Each update is
    posexplode → per-(cid, dim) mean → re-assembled array; the mean is
    rounded to 6 decimals so cross-partition float accumulation order
    cannot perturb assignments between runs — the whole pipeline is
    bit-reproducible. Empty clusters keep their previous centroid.

    Scale: assignment is corpus × k-broadcast (linear scans, no corpus
    shuffle); the update shuffles (cid, dim) partial sums — map-side
    combine makes the shuffle k·dim rows regardless of corpus size.
    """
    cents, indexed = ivf_build_index(corpus, n_clusters, n_iters, id_col, vec_col)
    # cents is built from driver lists: nothing reads the inverted file
    ckpt_release(indexed)
    return cents


def ivf_build_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means plus the inverted file, in one pass over the loop.

    Returns ``(cents, indexed)``: ``indexed`` is the FINAL E-step
    assignment ``(nid, nv, cid)``, localCheckpointed exactly once, and
    ``cents`` are the means of exactly those lists (the closing M-step) —
    the standard IVF contract (lists = last assignment, centroids = their
    means). Probe-time consumers reuse ``indexed`` instead of re-scanning
    and re-assigning the corpus, cutting one full corpus pass per query
    batch vs rebuilding the assignment from the centroids.

    Scale: the checkpointed index is the materialized inverted file — at
    cluster scale this is the artifact you would persist to storage once
    and serve many query batches from.
    """
    n_iters = max(1, n_iters)
    with Generations("ivf_build_index") as g:
        # Checkpoint the loop-invariant training relation ONCE (the graph-
        # loop edge-frame pattern): every Lloyd iteration maps the corpus
        # vectors through _nearest_centroids, so an unmaterialized lineage
        # would re-scan + re-project the corpus n_iters times.
        c = g.ckpt(
            corpus.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"))
        )
        # init = the n_clusters lowest ids. A k-row driver collect (k ≤ a few
        # hundred — index-build metadata, not data) assigns cid 0..k-1 by id
        # order.
        #
        # r14: centroid state lives DRIVER-SIDE between iterations (the
        # pinned_lloyd / exact-replay precedent — centroids are k rows of
        # index metadata, not data). The r13 shape paid, per iteration, one
        # k-row collect, one k×k join, and one eager checkpoint action; now
        # the M-step's updated.collect() is the iteration's ONLY action and
        # the Python dict merge replicates the old left-join + coalesce
        # (empty clusters keep their previous centroid) exactly. The Spark-
        # side arithmetic — assignment matmul, round(avg, 6) means — is
        # byte-for-byte the same plan, so assignments and means are
        # unchanged.
        init_rows = (
            c.select("nid", "nv").orderBy("nid").limit(n_clusters).collect()
        )
        cent_list = [(i, list(r["nv"])) for i, r in enumerate(init_rows)]
        indexed = None
        for i in range(n_iters):
            if i == n_iters - 1:
                # Materialize the final assignment once: the closing M-step
                # below AND every probe-time consumer read this checkpoint,
                # so the corpus is assigned n_iters times total (previously
                # n_iters + 1: ivf_topk re-ran _nearest_centroids over the
                # whole corpus against the final centroids).
                assigned = g.ckpt(_nearest_centroids(c, cent_list, "nv", "nid", 1))
                indexed = g.keep(assigned)
                partials = _mean_partials_from_assigned(
                    assigned, ["cid"], "nv"
                )
            else:
                # FUSED E+M step (r14, guide §4/§2): the same Arrow pass
                # that argmins each batch also emits per-batch partial sums
                # (cid, pos, cnt, psum) — k·dim rows per batch instead of
                # corpus·dim exploded rows through the shuffle. Assignment
                # arithmetic is _nearest_centroids' byte-for-byte (same d²
                # matmul, argmin == stable-argsort head); the mean becomes
                # round(Σ psum / Σ cnt, 6) instead of round(avg(val), 6) —
                # the same double-accumulation class whose ordering noise
                # the 6-decimal round exists to absorb (the old avg already
                # reassociated freely across AQE partial aggregates).
                partials = _assign_mean_partials(c, cent_list, "nv")
            dims = partials.groupBy("cid", "pos").agg(
                F.round(F.sum("psum") / F.sum("cnt"), 6).alias("m")
            )
            new_cv = _assemble_means(dims.collect(), key_cols=("cid",))
            # empty clusters keep their previous centroid (the old left
            # join's coalesce)
            cent_list = [(cid, new_cv.get((cid,), cv)) for cid, cv in cent_list]
    # the final `indexed` checkpoint is what consumers read; the scope
    # frees the training relation's generation
    spark = c.sparkSession
    cents = spark.createDataFrame(
        [(cid, cv) for cid, cv in cent_list], "cid int, cv array<double>"
    )
    return cents, indexed


def write_ivf_index(cents: DataFrame, indexed: DataFrame, path: str) -> None:
    """Persist the IVF artifact (ivf_build_index output) — the "build
    once, serve many" contract both docstrings promise: centroids under
    ``path/centroids`` (k rows) and the inverted file under
    ``path/lists`` PARTITIONED BY cid, so a probe that touches n_probe
    buckets prunes to those partition directories at scan time."""
    import os

    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    (
        indexed.write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(path, "lists"))
    )


def read_ivf_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index; returns (cents, indexed) exactly as
    ivf_build_index does — pass to ivf_topk via ``index=``."""
    import os

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    indexed = spark.read.parquet(os.path.join(path, "lists")).select(
        "nid", "nv", F.col("cid").cast("int").alias("cid")
    )
    return cents, indexed


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (the inverted file); each query probes its n_probe nearest
    centroids and scores only those buckets.

    The reference-side analog is pyarrow-based ANN tooling built on
    Arrow arrays; Spark-side the bucket join is a plain equi-join on cid:
    at 100 TB the corpus shuffles once at index-build time, queries
    broadcast, and per-query work is bounded by the probed buckets
    (n_probe/n_clusters of the corpus on average; AQE splits skewed
    cells). Complements lsh_bucketed_topk — IVF gives data-adaptive
    partitions where LSH is oblivious.

    ``index=(cents, indexed)`` serves from a prebuilt (possibly
    persisted-and-reloaded via read_ivf_index) index without touching
    ``corpus`` at all — the serve-many half of the contract."""
    if index is not None:
        cents, indexed = index
    else:
        cents, indexed = ivf_build_index(corpus, n_clusters, n_iters, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("qid"), _as_double(F.col(query_vec_col)).alias("qv")
    )
    probes = _nearest_centroids(q, cents, "qv", "qid", n_probe)
    cands = indexed.join(F.broadcast(probes), "cid").where(F.col("nid") != F.col("qid"))
    scored = cands.select(
        "qid", "nid", cosine_similarity(F.col("qv"), F.col("nv")).alias("cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


# -- Product quantization (PQ / IVF-PQ) -------------------------------------


def _pq_slices(vec_col, m: int, subdim: int):
    """Split an array column into m contiguous subvectors (JVM slice)."""
    return [F.slice(vec_col, s * subdim + 1, subdim) for s in range(m)]


def _collect_codebooks(codebooks: DataFrame):
    """(s, code, cv) frame → list of k×subdim numpy matrices, one per
    subspace, codes sorted ascending. Index METADATA (m·k rows)."""
    import numpy as np

    rows = codebooks.select("s", "code", "cv").collect()
    by_s: dict[int, list] = {}
    for r in rows:
        by_s.setdefault(r["s"], []).append((r["code"], r["cv"]))
    return [
        np.asarray([cv for _, cv in sorted(by_s[s])], dtype=np.float64)
        for s in sorted(by_s)
    ]


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_every: int = 1,
) -> DataFrame:
    """Train m per-subspace codebooks of n_codes centroids each
    (product quantization, Jégou et al. 2011) — returns (s, code, cv).

    One JOINT Lloyd loop covers all m subspaces: the training relation
    is (nid, s, subvector) — m rows per sampled vector — so each
    iteration is one map-only assignment (per-subspace matmul inside an
    Arrow batch) plus one (s, code, pos) mean shuffle whose size is
    m·n_codes·subdim partials regardless of corpus size. Training
    classically runs on a sample: ``sample_every=r`` keeps ids ≡ 0
    (mod r) — deterministic, no RNG.

    Determinism mirrors ivf_build_index: lowest-id init, means rounded
    to 6 decimals, stable argmin tie-break toward the lower code.
    """
    import numpy as np
    import pandas as pd

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m

    c = corpus.where((F.col(id_col) % sample_every) == 0).select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv")
    )
    sub = c.select(
        "nid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("s"), sv.alias("sv"))
                    for s, sv in enumerate(_pq_slices(F.col("nv"), m, subdim))
                ]
            )
        ).alias("e"),
    ).select("nid", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    with Generations("pq_train_codebooks") as g:
        # loop-invariant training relation: checkpoint once (see
        # ivf_build_index) — each joint-Lloyd iteration re-reads the
        # exploded (nid, s, subvector) frame through mapInPandas
        sub = g.ckpt(sub)

        # r14: codebook state lives DRIVER-SIDE between iterations (see
        # ivf_build_index — the m·k codebook rows are index metadata). Each
        # iteration's ONLY action is the M-step collect; the dict merge
        # replicates the old left-join + coalesce (empty codes keep their
        # centroid) exactly, and the Spark-side assignment / round(avg, 6)
        # arithmetic is unchanged.
        init_rows = (
            sub.where(
                F.col("nid").isin(
                    [r["nid"] for r in c.select("nid").orderBy("nid").limit(n_codes).collect()]
                )
            )
            .select("nid", "s", "sv")
            .collect()
        )
        id_rank = {nid: i for i, nid in enumerate(sorted({r["nid"] for r in init_rows}))}
        book = {
            (r["s"], id_rank[r["nid"]]): list(r["sv"]) for r in init_rows
        }

        def _book_rows():
            return [(s, code, cv) for (s, code), cv in sorted(book.items())]

        for _ in range(n_iters):
            mats = [
                np.asarray(
                    [cv for (s2, _), cv in sorted(book.items()) if s2 == s],
                    dtype=np.float64,
                )
                for s in range(m)
            ]

            # FUSED E+M step (r14, see _assign_mean_partials): the same
            # Arrow pass that argmins each (s, subvector) batch also reduces
            # it to per-(s, code, pos) partial sums — m·n_codes·subdim rows
            # per batch instead of the sample·subdim posexplode through the
            # shuffle. Assignment arithmetic is unchanged (same d² matmul,
            # first-minimum argmin); the mean becomes round(Σ psum / Σ cnt,
            # 6), the same double-accumulation class round-6 absorbs.
            def _partials(it):
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    svs = np.vstack(pdf["sv"].to_numpy())
                    subd = svs.shape[1]
                    frames = []
                    for s in range(m):
                        mask = (pdf["s"] == s).to_numpy()
                        if not mask.any():
                            continue
                        v = svs[mask]
                        cmat = mats[s]
                        d2 = (
                            (v * v).sum(axis=1)[:, None]
                            - 2.0 * (v @ cmat.T)
                            + (cmat * cmat).sum(axis=1)[None, :]
                        )
                        codes = np.argmin(d2, axis=1)  # first (lowest) code wins ties
                        sums = np.zeros((cmat.shape[0], subd), dtype=np.float64)
                        np.add.at(sums, codes, v)
                        cnts = np.bincount(codes, minlength=cmat.shape[0])
                        present = np.flatnonzero(cnts)
                        frames.append(
                            pd.DataFrame(
                                {
                                    "s": np.full(len(present) * subd, s, dtype=np.int32),
                                    "code": np.repeat(present, subd),
                                    "pos": np.tile(
                                        np.arange(subd, dtype=np.int32), len(present)
                                    ),
                                    "cnt": np.repeat(cnts[present], subd),
                                    "psum": sums[present].ravel(),
                                }
                            )
                        )
                    if frames:
                        yield pd.concat(frames, ignore_index=True)

            partials = sub.mapInPandas(
                _partials, "s int, code long, pos int, cnt long, psum double"
            )
            dims = partials.groupBy("s", "code", "pos").agg(
                F.round(F.sum("psum") / F.sum("cnt"), 6).alias("m")
            )
            new_cv = _assemble_means(dims.collect(), key_len=2)
            # empty codes keep their previous centroid (the old left join's
            # coalesce)
            book = {key: new_cv.get(key, cv) for key, cv in book.items()}
    spark = corpus.sparkSession
    return spark.createDataFrame(_book_rows(), "s int, code int, cv array<double>")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every vector as m uint8-range codes → (nid, codes).

    Map-only: the codebooks ride into each task as numpy constants and
    each Arrow batch pays one matmul per subspace — no join, no
    shuffle, no per-row Python. The output is the compressed corpus
    (m bytes of information per vector vs 4·dim — the 32× memory win
    that makes exhaustive ADC scans feasible at 100 TB).

    ``keep_cols`` carries extra columns (e.g. an IVF cid) through
    encoding for IVF-PQ composition.
    """
    import numpy as np
    import pandas as pd

    mats = _collect_codebooks(codebooks)
    m = len(mats)
    subdim = mats[0].shape[1]
    extra = list(keep_cols or [])

    c = corpus.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"), *extra
    )

    def _enc(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf["nv"].to_numpy())
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for s in range(m):
                sv = v[:, s * subdim : (s + 1) * subdim]
                cmat = mats[s]
                d2 = (
                    (sv * sv).sum(axis=1)[:, None]
                    - 2.0 * (sv @ cmat.T)
                    + (cmat * cmat).sum(axis=1)[None, :]
                )
                codes[:, s] = np.argmin(d2, axis=1)
            out = pdf[["nid", *extra]].copy()
            out["codes"] = list(codes)
            yield out

    schema = ", ".join(
        ["nid long"]
        + [f"{c0} {corpus.schema[c0].dataType.simpleString()}" for c0 in extra]
        + ["codes array<long>"]
    )
    return c.mapInPandas(_enc, schema)


def _adc_tables(queries: DataFrame, codebooks: DataFrame,
                query_id_col: str, query_vec_col: str) -> DataFrame:
    """Per-query asymmetric-distance tables: (qid, qv, qtab) where
    qtab[s][code] = ||q_s − c_{s,code}||². Map-only over the (small)
    query batch; the scan side then needs only table lookups."""
    import numpy as np
    import pandas as pd

    mats = _collect_codebooks(codebooks)
    m = len(mats)
    subdim = mats[0].shape[1]

    def _tabs(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf["qv"].to_numpy())
            tabs = []
            for i in range(len(pdf)):
                row = []
                for s in range(m):
                    qs = v[i, s * subdim : (s + 1) * subdim]
                    diff = mats[s] - qs[None, :]
                    row.append((diff * diff).sum(axis=1).tolist())
                tabs.append(row)
            out = pdf[["qid", "qv"]].copy()
            out["qtab"] = tabs
            yield out

    q = queries.select(
        F.col(query_id_col).alias("qid"), _as_double(F.col(query_vec_col)).alias("qv")
    )
    return q.mapInPandas(_tabs, "qid long, qv array<double>, qtab array<array<double>>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    refine_factor: int = 0,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance (ADC scan).

    The scan is pure JVM: compressed codes crossJoin the broadcast
    query batch (each query carrying its distance tables) and the
    approximate distance is ``aggregate(zip_with(codes, qtab,
    (c, t) → t[c]), 0.0, +)`` — whole-stage-codegen'd table lookups, no
    Python anywhere in the corpus-sized path. Cost per (query, vector)
    is m array lookups on m·8 bytes of data — the classic PQ trade:
    exhaustive scans over 32×-compressed codes.

    ``refine_factor=r`` re-ranks the top r·k ADC candidates per query
    with EXACT cosine against the uncompressed vectors (two-stage
    retrieval): the join back to ``corpus`` touches only r·k·q rows.

    Pass prebuilt ``codebooks``/``codes`` to serve from an existing
    index ("build once, serve many"); otherwise both are trained and
    encoded in-line.

    Returns (qid, nid, approx_d2, rank) — or with ``refine_factor``,
    (qid, nid, cos, rank) ranked by exact cosine.
    """
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, m=m, n_codes=n_codes, n_iters=n_iters,
            id_col=id_col, vec_col=vec_col,
        )
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    qt = _adc_tables(queries, codebooks, query_id_col, query_vec_col)

    adc = F.aggregate(
        F.zip_with("codes", "qtab", lambda c0, t: F.element_at(t, (c0 + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        codes.crossJoin(F.broadcast(qt.select("qid", "qtab")))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", adc.alias("approx_d2"))
    )
    w = W.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("nid").asc())
    n_keep = k * refine_factor if refine_factor else k
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_keep)
    )
    if not refine_factor:
        return top.select("qid", "nid", "approx_d2", "rank")

    cvecs = corpus.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv")
    )
    qvecs = qt.select("qid", "qv")
    exact = (
        top.select("qid", "nid")
        .join(cvecs, "nid")
        .join(F.broadcast(qvecs), "qid")
        .select("qid", "nid", cosine_similarity(F.col("qv"), F.col("nv")).alias("cos"))
    )
    w2 = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    refine_factor: int = 3,
    sample_every: int = 1,
) -> DataFrame:
    """IVF-PQ: inverted-file pruning + compressed-domain ADC scoring +
    exact re-rank — the FAISS-style composition, all relational.

    Per query the probed buckets bound the candidate set (n_probe /
    n_clusters of the corpus on average); those candidates are scored
    via the JVM ADC expression on 8-byte-per-subspace codes; the top
    refine_factor·k survivors are re-ranked with exact cosine. At
    100 TB the uncompressed corpus is read twice ever (IVF build,
    PQ encode); query batches touch codes + probed lists + r·k·q
    full vectors.
    """
    cents, indexed = ivf_build_index(
        corpus, n_clusters=n_clusters, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    codebooks = pq_train_codebooks(
        corpus, m=m, n_codes=n_codes, n_iters=n_iters, id_col=id_col,
        vec_col=vec_col, sample_every=sample_every,
    )
    coded = pq_encode(
        indexed.select(F.col("nid").alias("vec_id"), F.col("nv").alias("embedding"), "cid"),
        codebooks, keep_cols=["cid"],
    )
    qt = _adc_tables(queries, codebooks, query_id_col, query_vec_col)
    probes = _nearest_centroids(
        queries.select(
            F.col(query_id_col).alias("qid"), _as_double(F.col(query_vec_col)).alias("qv")
        ),
        cents, "qv", "qid", n_probe,
    ).select("qid", "cid")

    adc = F.aggregate(
        F.zip_with("codes", "qtab", lambda c0, t: F.element_at(t, (c0 + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = (
        coded.join(F.broadcast(probes), "cid")
        .join(F.broadcast(qt.select("qid", "qtab")), "qid")
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", adc.alias("approx_d2"))
    )
    w = W.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("nid").asc())
    top = cand.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k * max(1, refine_factor)
    )
    cvecs = indexed.select("nid", "nv")
    qvecs = qt.select("qid", "qv")
    exact = (
        top.select("qid", "nid")
        .join(cvecs, "nid")
        .join(F.broadcast(qvecs), "qid")
        .select("qid", "nid", cosine_similarity(F.col("qv"), F.col("nv")).alias("cos"))
    )
    w2 = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """EXACT covariance (upper triangle) of an embedding corpus on the
    milli-snapped integer lattice → (i, j, n, gram, s_i, s_j, cov) for
    i ≤ j — the input to PCA/whitening/anisotropy checks a training
    pipeline runs before trusting an embedding space.

    Floats snap to milli-units (the IVF-replay convention: round
    half-away ×1000 → BIGINT), so the Gram matrix G = ΣvvT and column
    sums S accumulate EXACTLY: each Arrow batch computes its int64
    EᵀE with one vectorized numpy matmul inside mapInArrow (no
    per-row Python, no per-element explode), emits dim(dim+1)/2
    partial cells + dim partial sums + a count row, and one
    map-side-combined group-by folds batches — the shuffle carries
    ≤ (dim²/2 + dim + 1) cells per task regardless of corpus size.
    cov_ij = (n·G_ij − S_i·S_j)/n² spends one fixed IEEE tree over the
    exact decimal sums. Rows with NULL vectors, wrong-dim vectors, or
    NULL elements inside a vector are excluded — element-level nulls
    would become NaN in to_numpy and NaN→int64 is undefined, silently
    corrupting the exact cells."""
    import pyarrow as pa

    base = df.select(F.col(vec_col).alias("e")).where(
        F.col("e").isNotNull()
        & (F.size("e") == dim)
        & ~F.exists("e", lambda x: x.isNull())
    )

    out_schema = "i int, j int, v decimal(38,0)"

    def gram_parts(batches):
        import numpy as np

        iu = np.triu_indices(dim)
        for batch in batches:
            col = batch.column(0)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            E = flat.astype("float64").reshape(-1, dim) * 1000.0
            Em = (np.sign(E) * np.floor(np.abs(E) + 0.5)).astype("int64")
            G = Em.T @ Em
            s = Em.sum(axis=0)
            n = Em.shape[0]
            i_idx = np.concatenate([iu[0], np.arange(dim), [-1]]).astype("int32")
            j_idx = np.concatenate([iu[1], np.full(dim, -1), [-1]]).astype("int32")
            vals = np.concatenate([G[iu], s, [n]]).astype(object)
            yield pa.record_batch(
                [
                    pa.array(i_idx, pa.int32()),
                    pa.array(j_idx, pa.int32()),
                    pa.array([int(v) for v in vals], pa.decimal128(38, 0)),
                ],
                names=["i", "j", "v"],
            )

    parts = base.mapInArrow(gram_parts, out_schema)
    folded = parts.groupBy("i", "j").agg(F.sum("v").alias("v"))
    n_row = folded.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").cast("long").alias("n")
    )
    sums = folded.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("si"), F.col("v").alias("s")
    )
    gram = folded.where(F.col("j") >= 0).select("i", "j", F.col("v").alias("gram"))
    si = sums.select(F.col("si").alias("i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("si").alias("j"), F.col("s").alias("s_j"))
    nd = F.col("n").cast("double")
    cov = (
        nd * F.col("gram").cast("double")
        - F.col("s_i").cast("double") * F.col("s_j").cast("double")
    ) / (nd * nd)
    return (
        gram.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            "n",
            F.col("gram").cast("double").alias("gram"),
            F.col("s_i").cast("double").alias("s_i"),
            F.col("s_j").cast("double").alias("s_j"),
            F.when(F.col("n") > 0, cov).alias("cov"),
        )
    )
