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


def _nearest(v, cmat, n: int):
    """Indices of the n rows of ``cmat`` nearest to each row of ``v``, by
    d² = |v|² − 2v·C + |C|² (one BLAS matmul). Ties go to the lower
    index: the head of a stable argsort, or for n = 1 the first minimum,
    which is the same index."""
    import numpy as np

    d2 = (v * v).sum(axis=1)[:, None] - 2.0 * (v @ cmat.T) + (cmat * cmat).sum(axis=1)[None, :]
    if n == 1:
        return np.argmin(d2, axis=1)[:, None]
    return np.argsort(d2, axis=1, kind="stable")[:, :n]


def _index_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """The index metadata ``rows`` a trainer built on the driver, as a
    frame that carries them: ``_index_rows`` reads them back without a
    Spark job."""
    frame = spark.createDataFrame(rows, schema)
    frame._index_rows = rows
    return frame


def _index_rows(frame: DataFrame, *cols: str) -> list[tuple]:
    """The ``cols`` tuples of an index metadata frame: the driver rows of
    an ``_index_frame``, else one collect (a persisted index or a user
    frame)."""
    rows = getattr(frame, "_index_rows", None)
    if rows is None:
        rows = [tuple(r) for r in frame.select(*cols).collect()]
    return rows


def _nearest_centroids(vectors: DataFrame, cents, vec_col: str, n_take: int) -> DataFrame:
    """Attach the n_take nearest centroid ids to each vector row.

    Centroids are k rows of index METADATA, so they ride into the task
    as constants and the assignment is MAP-ONLY: one ``_nearest`` matmul
    per Arrow batch. No join, no window, no shuffle — at 100 TB each
    assignment touches the corpus exactly once with zero exchange. Two
    rejected alternatives, both measured: the crossJoin+row_number plan
    shuffles corpus×k rows per pass; a codegen'd per-centroid fold over
    k×dim array literals pays ~1.5 s of Catalyst compile per pass (same
    lesson as lsh_signatures_vectorized — many folds lose to one
    matmul).

    ``cents`` is either a (cid, cv) DataFrame (the public index
    contract, e.g. from read_ivf_index) or a driver-side list of
    (cid, cv) pairs (the Lloyd loop's state)."""
    import numpy as np
    import pandas as pd

    if isinstance(cents, DataFrame):
        cents = _index_rows(cents, "cid", "cv")
    cent_rows = sorted(cents, key=lambda t: t[0])
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.asarray([cv for _, cv in cent_rows], dtype=np.float64)  # k × dim
    n = min(n_take, len(cids))

    def _top_cids(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        idx = _nearest(np.vstack(vecs.to_numpy()), cmat, n)
        return pd.Series([cids[row].tolist() for row in idx])

    top = F.pandas_udf(_top_cids, "array<long>")
    return vectors.select("*", F.explode(top(F.col(vec_col))).alias("cid"))


def _lloyd(g: Generations, train: DataFrame, m: int, n_codes: int, n_iters: int,
           index: bool = False):
    """Deterministic Lloyd k-means of every subspace at once → the
    codebook ``{(s, code): centroid}`` and, with ``index``, the inverted
    file.

    ``train`` is (nid, nv), checkpointed here once because every
    iteration re-reads it. Subspace s is the s-th of m equal contiguous
    slices of nv, so m = 1 is plain k-means (IVF) and m > 1 trains
    product-quantization codebooks. Code i starts as the vector with the
    i-th lowest id (no RNG); the codebook then lives on the driver — it
    is m·n_codes·subdim floats of index metadata.

    An iteration is one Arrow pass that assigns each (vector, subspace)
    to its nearest code (``_nearest``, the lower code wins ties) and
    reduces the batch to (s, code, pos, cnt, psum) partial sums, so the
    shuffle carries m·n_codes·subdim rows per batch whatever the corpus
    size. The new centroid is round(Σpsum / Σcnt, 6): the round absorbs
    the float reassociation of partial aggregates, which keeps training
    bit-reproducible. The collect of those means is the iteration's one
    action; an empty code keeps its previous centroid.

    With ``index`` (m = 1) the last iteration first checkpoints the
    assignment (nid, nv, cid) as the inverted file and takes its means
    from that frame's cid, so the centroids are the means of exactly the
    lists returned."""
    import numpy as np
    import pandas as pd

    train = g.ckpt(train)
    seed = train.orderBy("nid").limit(n_codes).collect()
    if not seed:
        raise ValueError("no training vectors")
    dim = len(seed[0]["nv"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd, k = dim // m, len(seed)
    book = {
        (s, code): list(r["nv"][s * sd : (s + 1) * sd])
        for code, r in enumerate(seed)
        for s in range(m)
    }
    indexed = None
    for i in range(n_iters):
        mats = [np.asarray([book[s, c] for c in range(k)], dtype=np.float64) for s in range(m)]
        if index and i == n_iters - 1:
            indexed = g.keep(g.ckpt(_nearest_centroids(
                train, [(c, cv) for (_, c), cv in book.items()], "nv", 1
            )))

        def _partials(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                v = np.vstack(pdf["nv"].to_numpy())
                parts = []
                for s, cmat in enumerate(mats):
                    sv = v[:, s * sd : (s + 1) * sd]
                    # the inverted file carries its assignment
                    codes = pdf["cid"].to_numpy() if "cid" in pdf else _nearest(sv, cmat, 1)[:, 0]
                    sums = np.zeros((k, sd), dtype=np.float64)
                    np.add.at(sums, codes, sv)  # unbuffered scatter-add, row order
                    cnts = np.bincount(codes, minlength=k)
                    present = np.flatnonzero(cnts)
                    parts.append(pd.DataFrame({
                        "s": np.full(len(present) * sd, s, dtype=np.int32),
                        "code": np.repeat(present, sd),
                        "pos": np.tile(np.arange(sd, dtype=np.int32), len(present)),
                        "cnt": np.repeat(cnts[present], sd),
                        "psum": sums[present].ravel(),
                    }))
                yield pd.concat(parts, ignore_index=True)

        means = (
            (train if indexed is None else indexed)
            .mapInPandas(_partials, "s int, code long, pos int, cnt long, psum double")
            .groupBy("s", "code", "pos")
            .agg(F.round(F.sum("psum") / F.sum("cnt"), 6).alias("m"))
        )
        new: dict = {}
        for r in means.collect():
            new.setdefault((r["s"], r["code"]), []).append((r["pos"], r["m"]))
        for key, pairs in new.items():
            book[key] = [x for _, x in sorted(pairs)]
    return book, indexed


def ivf_train_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means → (cid, cv) centroid frame.

    Init = the n_clusters lowest-id vectors (no RNG); means are rounded
    to 6 decimals, so the whole pipeline is bit-reproducible; empty
    clusters keep their previous centroid (see ``_lloyd``).

    Scale: assignment is corpus × k-broadcast (linear scans, no corpus
    shuffle); the update shuffles (cid, dim) partial sums — k·dim rows
    per Arrow batch regardless of corpus size.
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
    and re-assigning the corpus.

    Scale: the checkpointed index is the materialized inverted file — at
    cluster scale this is the artifact you would persist to storage once
    and serve many query batches from.
    """
    train = corpus.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"))
    with Generations("ivf_build_index") as g:
        book, indexed = _lloyd(g, train, 1, n_clusters, max(1, n_iters), index=True)
    cents = _index_frame(
        corpus.sparkSession,
        [(cid, cv) for (_, cid), cv in sorted(book.items())],
        "cid int, cv array<double>",
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
    probes = _nearest_centroids(q, cents, "qv", n_probe)
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


def _codebook_mats(codebooks: DataFrame):
    """(s, code, cv) frame → list of k×subdim numpy matrices, one per
    subspace, codes sorted ascending. Index METADATA (m·k rows)."""
    import numpy as np

    by_s: dict[int, list] = {}
    for s, code, cv in _index_rows(codebooks, "s", "code", "cv"):
        by_s.setdefault(s, []).append((code, cv))
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

    One JOINT Lloyd loop (``_lloyd``) covers all m subspaces: each
    iteration is one map-side pass that slices every (nid, vector) row
    into its m subvectors inside the Arrow batch, plus one (s, code,
    pos) mean shuffle whose size is m·n_codes·subdim partials per batch
    regardless of corpus size. Training classically runs on a sample:
    ``sample_every=r`` keeps ids ≡ 0 (mod r) — deterministic, no RNG.

    Determinism mirrors ivf_build_index: lowest-id init, means rounded
    to 6 decimals, ties toward the lower code.
    """
    train = corpus.where((F.col(id_col) % sample_every) == 0).select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv")
    )
    with Generations("pq_train_codebooks") as g:
        book, _ = _lloyd(g, train, m, n_codes, n_iters)
    return _index_frame(
        corpus.sparkSession,
        [(s, code, cv) for (s, code), cv in sorted(book.items())],
        "s int, code int, cv array<double>",
    )


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

    mats = _codebook_mats(codebooks)
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
            codes = np.hstack([
                _nearest(v[:, s * subdim : (s + 1) * subdim], cmat, 1)
                for s, cmat in enumerate(mats)
            ])
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

    mats = _codebook_mats(codebooks)
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


def _adc_topk(pairs: DataFrame, qt: DataFrame, cvecs: DataFrame, k: int,
              refine_factor: int) -> DataFrame:
    """Rank (qid, nid, codes, qtab) candidate pairs by ADC distance.

    The approximate distance is ``aggregate(zip_with(codes, qtab,
    (c, t) → t[c]), 0.0, +)`` — whole-stage-codegen'd table lookups, no
    Python. Without ``refine_factor`` this returns each query's top k
    as (qid, nid, approx_d2, rank). With ``refine_factor=r`` the top
    r·k are re-ranked by EXACT cosine against ``cvecs`` (nid, nv) and
    the query vectors in ``qt`` → (qid, nid, cos, rank); the join back
    to the full vectors touches only r·k·q rows."""
    adc = F.aggregate(
        F.zip_with("codes", "qtab", lambda c0, t: F.element_at(t, (c0 + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = pairs.where(F.col("nid") != F.col("qid")).select(
        "qid", "nid", adc.alias("approx_d2")
    )
    w = W.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("nid").asc())
    top = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k * (refine_factor or 1)
    )
    if not refine_factor:
        return top.select("qid", "nid", "approx_d2", "rank")
    exact = (
        top.select("qid", "nid")
        .join(cvecs, "nid")
        .join(F.broadcast(qt.select("qid", "qv")), "qid")
        .select("qid", "nid", cosine_similarity(F.col("qv"), F.col("nv")).alias("cos"))
    )
    w2 = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


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
    query batch (each query carrying its distance tables) and
    ``_adc_topk`` scores each pair by table lookups. Cost per (query,
    vector) is m array lookups on m·8 bytes of data — the classic PQ
    trade: exhaustive scans over 32×-compressed codes.

    ``refine_factor=r`` re-ranks the top r·k ADC candidates per query
    with EXACT cosine against the uncompressed vectors (two-stage
    retrieval).

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
    pairs = codes.crossJoin(F.broadcast(qt.select("qid", "qtab")))
    cvecs = corpus.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"))
    return _adc_topk(pairs, qt, cvecs, k, refine_factor)


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
    refine_factor·k survivors (at least k) are re-ranked with exact
    cosine. At 100 TB the uncompressed corpus is read twice ever (IVF
    build, PQ encode); query batches touch codes + probed lists + r·k·q
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
        cents, "qv", n_probe,
    ).select("qid", "cid")
    pairs = coded.join(F.broadcast(probes), "cid").join(
        F.broadcast(qt.select("qid", "qtab")), "qid"
    )
    return _adc_topk(pairs, qt, indexed.select("nid", "nv"), k, max(1, refine_factor))


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
