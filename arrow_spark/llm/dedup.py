"""Deduplication operators for document corpora.

Four tiers, matching large-corpus practice:
  exact          — hash group-by on normalized content (one shuffle);
  jaccard        — token-set Jaccard within blocking keys (bounded pairs);
  minhash-LSH    — shingle → seeded minhash signature → banded bucket
                   join → verified candidate pairs (the 100 TB path:
                   candidate generation is an equi-join, never O(n²));
  simhash        — 64-bit weighted sign fingerprint for hamming near-dup.

Everything is built-in-function Spark: xxhash64 for seeded hashing,
explode/groupBy for signatures, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..checkpoint import Generations


def normalize_text(col):
    """Whitespace/case normalization applied before fingerprinting."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalized: bool = True
) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id.

    One hash-shuffle on the fingerprint; map-side partial aggregation
    makes this linear at any scale.
    """
    content = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    return (
        docs.select(F.col(id_col), F.md5(content).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


def tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def jaccard_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple = (),
    length_blocking: bool = True,
) -> DataFrame:
    """Token-set Jaccard pairs (a<b) above threshold, within blocks.

    Lossless length-bucket blocking (on by default): J(A,B) ≤
    min(|A|,|B|)/max(|A|,|B|), so a pair above threshold t has token-set
    sizes within a factor 1/t — bucketing by floor(log_{1/t}|toks|)
    means matching pairs differ by at most one bucket. One side joins on
    its own bucket, the other explodes {k-1,k,k+1}, so the bucket key is
    a plain equi-join key (hash-shuffle, no theta join) and each
    qualifying pair meets exactly once. Same result set as the
    unblocked quadratic form — the DuckDB oracle checks that — but the
    per-key pair blowup is bounded by bucket population, not corpus
    size. At 100 TB use minhash_lsh_candidates for candidate generation;
    this is the exact verifier.
    """
    d = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
        *[F.col(c) for c in block_cols],
    )
    # |A∪B| = |A|+|B|-|A∩B| on distinct arrays: one hash pass per pair
    # instead of two (array_union materializes the merged array only to
    # take its size — measured ~35% of per-pair cost at sf0.1).
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter * 1.0 / union
    if length_blocking and 0.0 < threshold < 1.0:
        import math

        log_inv_t = math.log(1.0 / threshold)
        # Snap-floor: when log(sz)/log(1/t) lands within 1e-9 of an integer
        # (sizes at an exact bucket boundary, e.g. 8 vs 16 at t=0.5), plain
        # floor() can disagree across the pair by 2 due to float error and
        # the ±1-bucket join would miss a legitimate pair. Snapping
        # near-integers to the integer keeps the diff ≤ 1 guarantee exact.
        raw = F.log(F.size("toks").cast("double")) / F.lit(log_inv_t)
        bucket = F.when(
            F.abs(raw - F.round(raw, 0)) < 1e-9, F.round(raw, 0).cast("long")
        ).otherwise(F.floor(raw))
        a = d.select(
            F.col("id").alias("id_a"),
            F.col("toks").alias("toks_a"),
            bucket.alias("__lb__"),
            *[F.col(c) for c in block_cols],
        )
        b = d.select(
            F.col("id").alias("id_b"),
            F.col("toks").alias("toks_b"),
            F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("__lb__"),
            *[F.col(c) for c in block_cols],
        )
        pairs = a.join(b.hint("merge"), [*block_cols, "__lb__"]).where(F.col("id_a") < F.col("id_b"))
        # Size-ratio prefilter with slack: a false positive just reaches the
        # exact-Jaccard check below; a float-tight bound could falsely drop
        # a boundary pair (10*0.3 > 3 in doubles), so never filter tightly.
        sz_a, sz_b = F.size("toks_a"), F.size("toks_b")
        ratio_ok = F.least(sz_a, sz_b) >= F.greatest(sz_a, sz_b) * F.lit(threshold) - 1e-9
        pairs = pairs.where(ratio_ok)
    else:
        a = d.select(
            F.col("id").alias("id_a"),
            F.col("toks").alias("toks_a"),
            *[F.col(c) for c in block_cols],
        )
        b = d.select(
            F.col("id").alias("id_b"),
            F.col("toks").alias("toks_b"),
            *[F.col(c) for c in block_cols],
        )
        pairs = a.join(b, list(block_cols)) if block_cols else a.crossJoin(b)
        pairs = pairs.where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            (F.floor(jac * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def shingles(col, n: int = 3):
    """Word n-gram shingles as zip_with over shifted slices (no UDF).

    The naive form — transform over indices with element_at(tokens, i+j)
    — re-evaluates the split() subexpression inside every lambda call
    (Catalyst does not CSE into lambda bodies): ~3×shingle-count regex
    tokenizations per row, measured 15s for 5000 docs. zip_with over n
    shifted slices touches the token array O(n) times total (~50×
    faster). zip_with pads the shorter side with null and concat
    propagates null, so tail positions drop out via array_compact.
    """
    toks = tokens(col)
    cnt = F.size(toks)
    gram = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, 1 << 30)
        gram = F.zip_with(gram, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(cnt >= n, F.array_compact(gram)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def hashed_shingles(col, n: int = 3):
    """64-bit keys of word n-gram shingles WITHOUT building the strings.

    ``shingles(col, n)`` chains n−1 string concats, so each window costs
    O(n²) character copies before it is even hashed — the dominant cost
    of window-dedup at n=20. This twin hashes each token ONCE
    (xxhash64) and rolls a degree-(n−1) polynomial over the token
    hashes with the same zip_with-over-shifted-slices shape: O(n) long
    multiply-adds per window, zero string construction. Same null-pad /
    array_compact tail handling and the same short-doc single-gram
    convention, so positions align 1:1 with ``shingles``.

    The mixing step is rotate-left-5 + XOR (pure bit ops — ANSI mode
    forbids wrapping long multiplication, and bit shifts never
    overflow). Position sensitivity: rotation period 64/gcd(5,64) = 64
    exceeds any practical window, so permuted windows don't collide
    structurally. Two distinct windows of random 64-bit token hashes
    collide with ~2^-64; callers' oracle twins group by the gram STRING,
    so any collision turns the value hash red instead of passing
    silently.
    """
    toks = tokens(col)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    cnt = F.size(toks)

    def mix(a, b):
        rot = F.shiftleft(a, 5).bitwiseOR(F.shiftrightunsigned(a, 59))
        return rot.bitwiseXOR(b)

    gram = th
    for j in range(1, n):
        shifted = F.slice(th, j + 1, 1 << 30)
        gram = F.zip_with(gram, shifted, mix)
    whole = F.aggregate(th, F.lit(0).cast("long"), mix)
    return F.when(cnt >= n, F.array_compact(gram)).otherwise(F.array(whole))


#: Modulus of the affine minhash family: the Mersenne prime 2^31 − 1.
#: Without a modulus every h_i = a_i·base + b_i is MONOTONIC in base, so
#: all num_hashes mins collapse onto the same argmin shingle and the
#: banded construction degenerates to a single-hash scheme (every band
#: identical — the S-curve lsh_band_plan reasons about disappears). The
#: mod makes the slots independent permutations, as universal hashing
#: requires. Bounds: a < 2^30, base < 2^31 ⇒ a·base + b < 2^61, inside
#: ANSI long range, and the result is non-negative so `%` ≡ pmod in any
#: engine — the DuckDB oracles replay it verbatim.
MINHASH_PRIME = (1 << 31) - 1


def _minhash_constants(n: int) -> tuple[list[int], list[int]]:
    """Deterministic odd multipliers + offsets for the affine hash family
    (fixed seed; products stay under 2^61 — see MINHASH_PRIME)."""
    import random

    rng = random.Random(42)
    a = [rng.randrange(1, 1 << 30) | 1 for _ in range(n)]
    b = [rng.randrange(0, 1 << 30) for _ in range(n)]
    return a, b


def shingle_sets(
    docs: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_by_id: bool = False,
) -> DataFrame:
    """(id, distinct-shingle-array) per document.

    With partition_by_id the frame is hash-partitioned on id so several
    consumers (signature agg + both verify-join sides) hang off ONE
    exchange — the regex tokenize + zip_with shingle transform is the
    dominant cost of the minhash pipeline and must not run per-consumer.
    """
    d = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    return d.repartition("id") if partition_by_id else d


def _band_signatures(
    d: DataFrame, num_hashes: int, bands: int, hash_family: str = "xxhash64"
) -> DataFrame:
    """(id, band, bsig) banded MinHash signatures from a (id, sh)
    shingle-set frame — the unit the bucket joins (self- OR incremental)
    key on. Deterministic for a fixed (num_hashes, bands, shingle_n,
    hash_family), so a persisted store built earlier joins exactly
    against signatures computed today.

    hash_family='portable' swaps the base string hash for the
    md5-derived cross-engine hash (functions/portable_hash.py), making
    the whole signature → band → candidate pipeline exactly replayable
    in a DuckDB oracle; 'xxhash64' is the throughput default.
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    # One row per (doc, shingle), then num_hashes seeded-hash COLUMNS and a
    # single groupBy computing every min — one shuffle, no 16× row blowup,
    # map-side partial mins keep the shuffle tiny at any corpus size.
    sh = d.select("id", F.explode("sh").alias("sh"))
    # Universal hashing: one string hash per shingle, then affine mixes
    # mod a Mersenne prime per signature slot (see MINHASH_PRIME) —
    # avoids num_hashes string hashes per shingle. Ranges chosen so
    # a·h+b ≤ 2^61 (ANSI mode errors on long overflow): base reduced to
    # 31 bits, constants to 30.
    if hash_family == "portable":
        from arrow_spark.functions.portable_hash import portable_hash64

        base = F.pmod(portable_hash64(F.col("sh")), F.lit(1 << 31))
    elif hash_family == "xxhash64":
        base = F.pmod(F.xxhash64(F.col("sh")), F.lit(1 << 31))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    a_consts, b_consts = _minhash_constants(num_hashes)
    hashed = sh.select(
        "id",
        *[
            F.pmod(
                F.lit(a_consts[i]) * base + F.lit(b_consts[i]), F.lit(MINHASH_PRIME)
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "_", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        )
        for b in range(bands)
    ]
    return sig.select("id", F.posexplode(F.array(*band_cols)).alias("band", "bsig"))


def _lsh_candidates_from_sets(
    d: DataFrame, num_hashes: int, bands: int, hash_family: str = "xxhash64"
) -> DataFrame:
    """Banded LSH candidate pairs from a (id, sh) shingle-set frame."""
    # Both self-join sides shuffle the identical upstream on the same keys
    # → Catalyst reuses one exchange (ReusedExchange); no cache needed, and
    # no cache entries leak into the caller's long-lived session.
    band_sig = _band_signatures(d, num_hashes, bands, hash_family)
    left = band_sig.select("band", "bsig", F.col("id").alias("id_a"))
    right = band_sig.select("band", "bsig", F.col("id").alias("id_b"))
    return (
        left.join(right.hint("merge"), ["band", "bsig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash + banded LSH candidate pairs.

    Pipeline (all relational): shingle sets → explode → universal-hash
    columns → groupBy(id) min (signature) → band → bucket self-join.
    Distributed cost: two shuffles (signature agg, bucket join) — no
    pairwise scan of the corpus, and map-side partial mins keep the
    signature shuffle tiny at any corpus size.
    """
    return _lsh_candidates_from_sets(
        shingle_sets(docs, shingle_n, id_col, text_col), num_hashes, bands, hash_family
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidates from LSH, verified with exact shingle Jaccard.

    The shingle-set frame is built ONCE, hash-partitioned on id, and
    shared by the signature pipeline and both verify-join sides — the
    tokenize+shingle projection is the pipeline's dominant cost and the
    naive form recomputed it three times (measured ~30% slower at
    sf0.1). The candidate list is small (LSH-bucketed), so Catalyst
    broadcasts it into the verify joins; the shared frame's exchange is
    reused across consumers instead of re-scanning the corpus.
    """
    d = shingle_sets(docs, shingle_n, id_col, text_col, partition_by_id=True)
    cands = _lsh_candidates_from_sets(d, num_hashes, bands, hash_family)
    a = d.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = cands.join(a.hint("merge"), "id_a").join(b.hint("merge"), "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter  # sets are distinct
    return (
        j.select(
            "id_a",
            "id_b",
            (F.floor(inter * 1.0 / union * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def band_signature_store(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The persistable dedup index for INCREMENTAL ingestion: one
    (id, band, bsig) row per document band. Build once over the
    accepted corpus, write partitioned/bucketed by (band, bsig); each
    new batch then probes it with an equi-join instead of re-shingling
    the corpus. Size: bands rows per doc — index metadata scale, not
    corpus scale."""
    return _band_signatures(
        shingle_sets(docs, shingle_n, id_col, text_col), num_hashes, bands, hash_family
    )


def incremental_near_dups(
    new_docs: DataFrame,
    store: DataFrame | None,
    corpus: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidate_source: str = "lsh",
    block_cols: tuple = (),
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup detection of a NEW batch against an EXISTING corpus —
    the daily-ingest shape: shingle/sign only the batch (cost ∝ batch,
    not corpus), equi-join its band signatures against the persisted
    ``store``, and exact-verify candidates with shingle Jaccard.

    ``corpus`` supplies text for verification; only candidate old-ids
    are re-shingled (the candidate list is LSH-bucketed and small, so
    it broadcasts into a semi-join that prunes the corpus scan before
    the shingle projection runs). Returns (new_id, dup_of, jaccard) for
    pairs at/above threshold — batch rows absent from the result are
    novel documents, appendable to the store via band_signature_store.

    ``candidate_source="exact"`` replaces the LSH store probe with
    all (new × corpus) pairs inside ``block_cols`` — recall 1 by
    construction, so the result is SQL-expressible and DuckDB-oracled
    (the store is unused and may be None). That is the verification
    path; "lsh" is the scale path whose recall the exact path gates.

    At 100 TB: the store is the only corpus-scale input and it is read
    by equi-join on (band, bsig) — partition/bucket it on those keys
    and the probe touches matching buckets only. The corpus text scan
    is candidate-pruned. Nothing rescans or re-signs the full corpus.
    """
    if candidate_source == "exact":
        sh = F.array_distinct(shingles(F.col(text_col), shingle_n))
        blocks = [F.col(c) for c in block_cols]
        a = new_docs.select(F.col(id_col).alias("new_id"), *blocks, sh.alias("sh_a"))
        b = corpus.select(F.col(id_col).alias("dup_of"), *blocks, sh.alias("sh_b"))
        j = a.join(b, list(block_cols)) if block_cols else a.crossJoin(b)
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size("sh_a") + F.size("sh_b") - inter  # sets are distinct
        return (
            j.select(
                "new_id",
                "dup_of",
                (F.floor(inter * 1.0 / union * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    if candidate_source != "lsh":
        raise ValueError(f"unknown candidate_source {candidate_source!r}")
    if store is None:
        raise ValueError("candidate_source='lsh' requires a signature store")
    d_new = shingle_sets(new_docs, shingle_n, id_col, text_col, partition_by_id=True)
    new_bands = _band_signatures(d_new, num_hashes, bands, hash_family)
    cands = (
        new_bands.join(store.hint("merge"), ["band", "bsig"])
        .where(new_bands["id"] != store["id"])
        .select(new_bands["id"].alias("new_id"), store["id"].alias("dup_of"))
        .distinct()
    )
    old_ids = cands.select(F.col("dup_of").alias("id")).distinct()
    d_old = shingle_sets(
        corpus.join(F.broadcast(old_ids), corpus[id_col] == old_ids["id"], "left_semi"),
        shingle_n,
        id_col,
        text_col,
    )
    a = d_new.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a"))
    b = d_old.select(F.col("id").alias("dup_of"), F.col("sh").alias("sh_b"))
    j = cands.join(a.hint("merge"), "new_id").join(b.hint("merge"), "dup_of")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter  # sets are distinct
    return (
        j.select(
            "new_id",
            "dup_of",
            (F.floor(inter * 1.0 / union * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash: per-token hash, weighted bit-vote, sign → bit string.

    Computed relationally: explode tokens → per-bit vote via shiftright/
    bitwiseAND → sum votes per doc → reassemble bit string.
    hash_family='portable' (md5-derived, 60 usable bits — pass
    bits <= 60) makes the fingerprint DuckDB-replayable for the oracle;
    'xxhash64' is the 64-bit throughput default.
    """
    if hash_family == "portable":
        from arrow_spark.functions.portable_hash import portable_hash64

        if bits > 60:
            raise ValueError("portable hash has 60 usable bits")
        hcol = portable_hash64(F.col("tok"))
    elif hash_family == "xxhash64":
        hcol = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    toked = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", hcol)
    votes = toked.select(
        "id",
        *[
            (
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ],
    )
    agg = votes.groupBy("id").agg(*[F.sum(f"b{i}").alias(f"b{i}") for i in range(bits)])
    bit_cols = [F.when(F.col(f"b{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(bits)]
    return agg.select("id", F.concat(*bit_cols).alias("simhash"))


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocking: str = "lsh",
    n_tables: int = 12,
    n_planes: int = 8,
    seed: int = 42,
    auto_scale: bool = True,
    target_bucket: int = 64,
    top_k_per_id: int | None = None,
    target_miss: float | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a<b) above threshold.

    NOTE (behavior since auto_scale landed): with the default
    ``auto_scale=True`` the lsh path runs one eager ``count()`` job at
    index-build time, and above ~``target_bucket``·2^``n_planes`` rows
    (~16k at the defaults) the effective (n_planes, n_tables) grow with
    the corpus — so the approximate index's recall set for identical
    inputs+seed depends on corpus size. Pass ``auto_scale=False`` for
    size-independent reproducibility (at the documented quadratic
    candidate-growth cost).

    blocking='lsh' (default, the 100 TB path): random-hyperplane LSH
    with multi-table OR-construction. Each vector gets ``n_tables``
    sign-bit signatures of ``n_planes`` seeded hyperplanes; a pair is a
    candidate iff it collides in ANY table — a plain equi-join on
    (table, signature), exactly the banded construction
    minhash_lsh_candidates uses for shingles. Candidates are then
    verified with the exact cosine, so there are no false positives;
    misses are pairs colliding in no table. For cosine ≥ t the per-plane
    collision probability is 1 - acos(t)/π (≥ 0.899 at t=0.95), so the
    miss probability of a qualifying pair is
    (1 - (1-acos(t)/π)^n_planes)^n_tables — ≤ 1.3e-3 at the 0.95
    defaults for a pair AT the threshold and ~1e-6 for true near-dups
    (cos ≥ 0.99); raise n_tables (recall) or n_planes (bucket
    selectivity) per corpus. Planes are seeded → the result is
    deterministic; equality with the exact form on planted near-dups is
    unit-tested, and the DuckDB oracle checks the all-pairs semantics.

    blocking='exact': the all-pairs crossJoin — O(n²), the small-sf
    oracle verifier only.

    Distributed cost of the LSH path: one linear projection pass
    (T·P·dim multiplies per row, codegen'd JVM folds, no UDF), one
    shuffle on (table, signature) for the candidate join, and exact
    cosine only on bucket-internal pairs — never an all-pairs stage
    (no-CartesianProduct is plan-pinned in tests).

    ``auto_scale`` (default on): at FIXED n_planes the bucket count is
    fixed, so bucket populations — and candidate pairs, ~T·n²/2^P —
    grow QUADRATICALLY with corpus size (measured: sf1→sf3 exponent
    +1.9 on the second-decade sweep). Above ``target_bucket``·2^n_planes
    rows the plane count is raised to keep mean bucket population at
    ~``target_bucket`` (P = ceil(log2(n / target_bucket)) → candidates
    ~T·n·target_bucket, linear), and the table count is raised to keep
    the MISS BOUND at the (12, 8) defaults' documented level — solving
    (1 − c^P)^T ≤ (1 − c^8)^12 for T with c = 1 − acos(threshold)/π,
    the collision probability of a pair AT the threshold. Below that
    size nothing changes (fixture scales keep the exact historical
    plan); one count() job runs at index-build time to pick P.
    """
    from arrow_spark.llm.similarity import (
        _as_double,
        cosine_similarity,
        deterministic_planes,
        lsh_signatures_vectorized,
    )

    d = embeddings.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    a = d.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = d.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    if blocking == "exact":
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    else:
        # dim is schema-level metadata the planes need; a one-row peek is
        # an index-build-time constant, not a per-row driver loop
        dim = embeddings.select(F.size(F.col(vec_col)).alias("n")).first()["n"]
        if auto_scale:
            import math as _m

            n_rows = embeddings.count()
            p_auto = (
                _m.ceil(_m.log2(n_rows / target_bucket))
                if n_rows > target_bucket
                else n_planes
            )
            if p_auto > n_planes:
                c = 1.0 - _m.acos(min(max(threshold, -1.0), 1.0)) / _m.pi
                # Boundary guard: threshold=1.0 gives c=1 (baseline_miss=0,
                # log(0) raises) and threshold<=-1 gives c=0 (both logs are
                # 0.0, division raises). At either edge the table-count
                # solve is meaningless — an exact-cosine threshold needs no
                # extra tables and c=0 means no pair ever collides — so
                # only raise the plane count.
                if 0.0 < c < 1.0 - 1e-12:
                    baseline_miss = (1.0 - c**n_planes) ** n_tables
                    t_auto = _m.ceil(
                        _m.log(baseline_miss) / _m.log(1.0 - c**p_auto)
                    )
                    n_tables = max(n_tables, t_auto)
                n_planes = p_auto
        if target_miss is not None:
            # THRESHOLD-AWARE table solve (r13): the (12, 8) defaults are
            # tuned for production thresholds (miss ≤ 1.3e-3 at t=0.95),
            # but the per-plane collision probability c = 1 − acos(t)/π
            # decays fast as t drops — at t=0.40, c^8 = 0.025 and the
            # default OR-construction captures only ~26% of qualifying
            # pairs (measured 17/59 on the sf0.01 fixture, the recall
            # hole the vacuous 0.95-threshold driver greens hid, VERDICT
            # r12 #3). Callers below ~0.8 MUST either pass an explicit
            # (n_planes, n_tables) or set target_miss: given the current
            # plane count P, the table count is solved from the miss
            # bound (1 − c^P)^T ≤ target_miss — the same algebra the
            # auto_scale branch uses, anchored to an absolute bound
            # instead of the defaults' baseline.
            import math as _m2

            c2 = 1.0 - _m2.acos(min(max(threshold, -1.0), 1.0)) / _m2.pi
            if 0.0 < c2 < 1.0 - 1e-12:
                per_table = c2 ** n_planes
                if 0.0 < per_table < 1.0:
                    n_tables = max(
                        n_tables,
                        _m2.ceil(
                            _m2.log(target_miss) / _m2.log(1.0 - per_table)
                        ),
                    )
        planes = deterministic_planes(n_tables * n_planes, dim, seed)
        # one numpy matmul per Arrow batch beats 96 codegen'd folds —
        # see lsh_signatures_vectorized
        sigs = lsh_signatures_vectorized(planes, n_tables)
        sig = d.select("id", F.posexplode(sigs(F.col("v"))).alias("tbl", "sig"))
        left = sig.select("tbl", "sig", F.col("id").alias("id_a"))
        right = sig.select("tbl", "sig", F.col("id").alias("id_b"))
        cands = (
            left.join(right.hint("merge"), ["tbl", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = cands.join(a.hint("merge"), "id_a").join(b.hint("merge"), "id_b")
    cos = cosine_similarity(F.col("v_a"), F.col("v_b"))
    out = pairs.select(
        "id_a", "id_b", (F.floor(cos * 1e6 + F.lit(0.5)) / 1e6).alias("cos")
    ).where(F.col("cos") >= threshold)
    if top_k_per_id is not None:
        # EMISSION GUARD (mirrors containment_pairs' top_k_per_doc and
        # fuzzy_join's top_k_per_probe): on a near-dup-dense corpus the
        # qualifying pair RELATION is quadratic by definition (measured
        # rows exp +2.00 sf1→sf3 while per-output-row cost fell — the
        # plan is sublinear, the emission isn't). Keep each id_a's k
        # most-similar partners (rounded cos DESC, id_b ASC — both sides
        # rank on the same rounded value, so ties break identically in
        # the rank-cut oracle), bounding output at k·n rows.
        wk = W.partitionBy("id_a").orderBy(F.col("cos").desc(), F.col("id_b"))
        out = (
            out.withColumn("__rk", F.row_number().over(wk))
            .where(F.col("__rk") <= int(top_k_per_id))
            .drop("__rk")
        )
    return out


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    Returns one row per vertex appearing in ``edges``: (v, component)
    where component is the smallest vertex id in the connected component.

    Algorithm (r13): alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014, Alg. 2 "two-phase") on the canonical edge list itself —
    large-star points every strictly-larger neighbor of a node at the
    minimum of its closed neighborhood; small-star does the same for
    the smaller neighbors. The edge set is loop state; at the fixpoint
    it is a star forest whose roots are the component minima. This
    replaces the r12 neighbor-min + pointer-jump label loop after an
    r13 measurement falsified the jump speedup off sorted-id chains:
    on a 5,000-vertex chain with HASH-SCRAMBLED vertex ids, the label
    loop did not converge within 64 rounds at ANY jump count 1-4
    (jumps compound reach only when a label's label is further along
    the path, which sorted template-chain ids guarantee and scrambled
    ids do not), while two-phase converged in 11 rounds (≈ log2 n, the
    paper's bound — round count is geometry-independent). On the
    dbscan ε-graph at sf0.1 the same swap cut 16 rounds to 6.

    Convergence is an exact shape test on each round's output edge set
    (canonical, u < v): it is a STAR FOREST iff no vertex is both a
    parent (a u) and a child (a v), and no vertex is a child more than
    once. Both halves are needed — with only the first, the chain
    0-5-3-6-2-1-4 stops while vertex 1 is still the child of two
    centers and labels {6, 2, 1, 4} as 1. A star forest is a fixpoint
    of one round, so stopping there returns exactly the set that
    waiting for two equal consecutive rounds would return a round later:
      * take a star with center r and leaves L, every l > r;
      * large-star at r: m = min({r} ∪ L) = r, emit (l, r) per leaf;
      * large-star at a leaf l: its only neighbor r < l, emit nothing;
      * small-star on {(l, r)}: each l's min is r, emit (r, l) and
        (r, r), and the self-loop is dropped;
      * so the round maps the star to itself, and stars never interact.
    Each round connects the same vertices as its input, so every star
    is a whole component and its center the component minimum. The
    test is one aggregation over the round's output, read with
    ``isEmpty``: its shuffle computes and persists every partition of
    the round's lazy generation, and its take stops at the first
    violation instead of counting them all (one job when AQE coalesces
    the aggregate to one partition). ``max_iter`` counts rounds
    including the one that finds the star forest; no confirmation round
    follows it.

    Scale notes: the canonical edge frame is checkpointed once (the
    possibly-expensive pair-generation lineage is computed exactly
    once) and the per-round edge set is provably non-increasing (the
    paper's monotonicity lemma), so peak state is the input edge list;
    each round is two map-side-combinable min-aggregations + two
    equi-joins + one dedupe, all keyed on vertex ids; a join side is
    broadcast only while its generation's stored size is under the
    broadcast threshold.
    Checkpoints go through ckpt_reset_stats, NOT bare localCheckpoint
    (preserved origin-size estimates compound to BigInteger overflow in
    join-bearing loops — see arrow_spark/checkpoint.py), and every
    generation is released as soon as its successor materializes; the
    returned frame is itself checkpointed so exactly ONE node-scale
    generation outlives the call. No .cache() anywhere: checkpoint
    blocks don't enter the CacheManager, so later unrelated queries
    can't pick them up via ReusedExchange (SCALE.md round-1 lesson).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))

    def step(cur: DataFrame, _: int) -> DataFrame:
        # large-star: around every center c, point each LARGER neighbor
        # n at m = min(closed neighborhood of c)
        sym = cur.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            cur.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        m = sym.groupBy("c").agg(F.min("n").alias("mn"))
        m = m.select("c", F.least("c", "mn").alias("m"))
        ls = (
            sym.join(m, "c")
            .where(F.col("n") > F.col("c"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            # no self-loop filter needed: m <= c < n, so u=n > v=m always
        )
        # small-star: canonicalize to (larger center, smaller neighbor),
        # point every smaller neighbor (and the center) at the min
        can = ls.select(
            F.greatest("u", "v").alias("c"), F.least("u", "v").alias("n")
        )
        m2 = can.groupBy("c").agg(F.min("n").alias("m"))
        return (
            can.join(m2, "c")
            .select(F.col("n").alias("a"), F.col("m").alias("b"))
            .union(m2.select(F.col("c").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )

    def star_forest(new: DataFrame) -> bool:
        # a vertex violates iff it is a child at least once and appears
        # in at least two rows: then it is also a parent, or a child twice
        roles = new.select(F.col("u").alias("x"), F.lit(0).alias("child")).union(
            new.select(F.col("v").alias("x"), F.lit(1).alias("child"))
        )
        # isEmpty's take may stop at the aggregate's first partition, but
        # the shuffle under it reads every partition of the generation
        return (
            roles.groupBy("x")
            .agg(F.sum("child").alias("c"), F.count("*").alias("k"))
            .where((F.col("c") > 0) & (F.col("k") > 1))
            .isEmpty()
        )

    with Generations("connected_components") as g:
        # one materialization of the pair-generation lineage; vertices
        # (self-loop-only ones included) and the canonical simple edges
        # both derive from it
        ec = g.ckpt(e)
        # round 0 consumes the raw frame directly (canonicalization
        # inlined, no up-front distinct — the min-aggregations are
        # duplicate-blind and the round's final dedupe canonicalizes): one
        # fewer eager materialization. The star-forest test reads only
        # round outputs, which are canonical and distinct, so correctness
        # is untouched.
        cur = ec.where(F.col("u") != F.col("v")).select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        # LAZY checkpoint + test-as-materializer: the star-forest
        # test is the round's ONE action — it computes the round and
        # persists the generation, and only then is the predecessor
        # released. Raises when max_iter rounds pass without a star
        # forest; the scope frees every generation on the way out.
        cur = g.iterate(cur, step, max_iter, until=star_forest)
        # star forest: child v → center u = component min. One
        # aggregation labels every vertex of the original edge list: each
        # endpoint offers itself, each star edge offers its center to its
        # leaf, so singletons and self-loop-only vertices label
        # themselves. The coalesce keeps `component` as nullable as the
        # input ids.
        offers = (
            ec.select(F.col("u").alias("x"), F.col("u").alias("c"))
            .union(ec.select(F.col("v").alias("x"), F.col("v").alias("c")))
            .union(cur.select(F.col("v").alias("x"), F.col("u").alias("c")))
        )
        return g.keep(
            g.ckpt(
                offers.groupBy("x")
                .agg(F.min("c").alias("c"))
                .select(F.col("x").alias("v"), F.coalesce("c", "x").alias("component"))
            )
        )


def near_dup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple = (),
    max_iter: int = 40,
    pair_source: str = "lsh",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    keeper_by: str | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Cluster documents by transitive near-duplication.

    The end-to-end dedup op a training-data pipeline actually needs:
    pairwise near-dup edges are only half the job — a~b and b~c must
    collapse into ONE keeper even when a≁c. Output: (doc_id, cluster_id,
    is_keeper) for EVERY document (singletons form their own cluster);
    keep `is_keeper` rows for the deduplicated corpus. cluster_id = min
    doc_id of the cluster, so the result is deterministic.

    pair_source='lsh' (default, the 100 TB path): edges are minhash-LSH
    candidates verified by exact shingle Jaccard — candidate generation
    is a banded equi-join, never pairwise in any block. Edge semantics:
    ``threshold`` applies to *shingle*-set Jaccard.

    pair_source='exact': edges from jaccard_near_dup_pairs (*token*-set
    Jaccard, honoring ``block_cols``/length blocking). Bucket-quadratic
    pair verification — the small-sf oracle verifier, not the scale
    path.

    ``max_iter`` caps the connected-components rounds, counting the
    round that stops the loop; it raises ``RuntimeError`` when the
    pair graph needs more.
    """
    if pair_source == "exact":
        pairs = jaccard_near_dup_pairs(
            docs, threshold=threshold, id_col=id_col, text_col=text_col, block_cols=block_cols
        )
    elif pair_source == "lsh":
        pairs = minhash_near_dups(
            docs,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            id_col=id_col,
            text_col=text_col,
            hash_family=hash_family,
        )
    else:
        raise ValueError(f"bad pair_source {pair_source!r}")
    return clusters_from_pairs(
        docs, pairs, id_col=id_col, max_iter=max_iter, keeper_by=keeper_by
    )


def clusters_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
    keeper_by: str | None = None,
) -> DataFrame:
    """Cluster assignment from an arbitrary near-dup edge list (exact
    Jaccard pairs, minhash-LSH candidates, embedding-cosine pairs, ...):
    connected components + join-back so every document gets a
    (cluster_id, is_keeper) row, singletons included.

    ``keeper_by`` selects WHICH duplicate to retain: None keeps the min
    doc_id (cheapest, fully deterministic); a quality column name keeps
    the cluster's argmax of that column (ties → min doc_id) — the shape
    real pipelines want ("keep the longest / highest-quality copy, drop
    the rest"). Quality selection adds one cluster-keyed max_by
    aggregate (map-side combined) and an equi-join — no extra corpus
    scan. Numeric ids assumed (the tiebreak negates the id).
    """
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    extra = [F.col(keeper_by).alias("__q__")] if keeper_by else []
    out = docs.select(F.col(id_col).alias("doc_id"), *extra).join(
        comp, F.col("doc_id") == comp.v, "left"
    )
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    if keeper_by is None:
        return out.select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("is_keeper"),
        )
    assigned = out.select("doc_id", cluster.alias("cluster_id"), F.col("__q__"))
    # lexicographic struct max = (max quality, then min id via negation);
    # kid rides along so the winner's id pops out of one aggregate
    best = (
        assigned.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("__q__").alias("q"),
                    (-F.col("doc_id")).alias("nid"),
                    F.col("doc_id").alias("kid"),
                )
            ).alias("b")
        )
        .select("cluster_id", F.col("b.kid").alias("__keeper__"))
    )
    return assigned.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("__keeper__")).alias("is_keeper"),
    )


def lsh_band_plan(
    threshold: float,
    num_hashes: int = 128,
    max_fn: float = 0.05,
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a Jaccard threshold.

    The banding S-curve gives P(candidate | sim=s) = 1 − (1 − s^r)^b
    with b·r = num_hashes. This picks the divisor pair whose curve is
    steepest around ``threshold``: among all (b, r) with
    false-negative rate at the threshold ≤ ``max_fn`` (i.e. the curve
    has risen past 1 − max_fn by s = threshold... relaxed to the best
    available when none qualifies), minimize the false-positive mass
    below the threshold (∫₀^t of the curve). The classic rule of thumb
    t ≈ (1/b)^(1/r) falls out as the crossover of the chosen curve.

    Driver-side planning arithmetic only — feed the result straight to
    minhash_lsh_candidates(num_hashes=b*r, bands=b).
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")

    def curve(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    def fp_mass(b: int, r: int, n: int = 50) -> float:
        # left-rectangle integral of the curve below the threshold
        step = threshold / n
        return sum(curve(i * step, b, r) for i in range(n)) * step

    divisors = [
        (num_hashes // r, r)
        for r in range(1, num_hashes + 1)
        if num_hashes % r == 0
    ]
    ok = [(b, r) for b, r in divisors if 1 - curve(threshold, b, r) <= max_fn]
    pool = ok or sorted(divisors, key=lambda br: 1 - curve(threshold, *br))[:1]
    best = min(pool, key=lambda br: fp_mass(*br))
    return best


def duplicate_ngram_spans(
    docs: DataFrame,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact-substring duplication profile per document — the token-window
    form of suffix-array dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): any window of ``window``
    consecutive tokens occurring ≥ ``min_count`` times across the corpus
    (including repeats inside one document) is duplicated text.

    Returns (doc_id, n_windows, n_dup_windows, dup_fraction): the
    fraction of a document's token windows that appear elsewhere —
    filter on it to drop boilerplate-heavy documents, or keep the
    per-window frame to excise the spans themselves.

    Distributed shape: positional windows (posexplode of the shingle
    transform) → per-(doc, gram) local counts → per-gram totals — every
    stage a map-side-combined groupBy on the gram key, then one
    equi-join of the two aggregates. No pairwise document comparison
    anywhere, so cost is linear in corpus token count at any scale —
    the property that makes window-dedup tractable where true suffix
    arrays need cross-node sorted order.

    ``hash_grams`` (default): aggregate on xxhash64(gram) instead of the
    20-token string — the shuffle carries 8-byte keys instead of ~100+
    byte grams. A hash collision could merge two distinct grams and
    overcount duplication by one window; at 64 bits that is negligible
    against corpus sizes (~1e-9 at 10^5 distinct grams) and the exact
    string path (hash_grams=False) is the DuckDB-oracle twin.
    """
    # hashed_shingles: exploded rows (and everything downstream) carry
    # 8-byte longs and the ~100+ byte gram strings are never built
    gram_arr = (
        hashed_shingles(F.col(text_col), window)
        if hash_grams
        else shingles(F.col(text_col), window)
    )
    w = docs.select(
        F.col(id_col).alias("id"),
        F.explode(gram_arr).alias("gram_k"),
    )
    g = w.groupBy("id", "gram_k").agg(F.count(F.lit(1)).alias("k"))
    tot = g.groupBy("gram_k").agg(F.sum("k").alias("tot"))
    dup_k = F.sum(F.when(F.col("tot") >= min_count, F.col("k")).otherwise(0))
    return (
        g.join(tot.hint("merge"), "gram_k")
        .groupBy("id")
        .agg(
            F.sum("k").alias("n_windows"),
            dup_k.alias("n_dup_windows"),
            (F.floor(dup_k * 1.0 / F.sum("k") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "dup_fraction"
            ),
        )
        .withColumnRenamed("id", "doc_id")
    )


def excise_duplicate_spans(
    docs: DataFrame,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Remove duplicated text, keep one occurrence — the excision half
    of window dedup (duplicate_ngram_spans is the profiler): every
    window of ``window`` tokens that appears more than once in the
    corpus keeps ONLY its canonical first occurrence (min doc id, then
    min position); tokens covered by any non-canonical duplicate window
    are dropped and the surviving tokens are reassembled in order.

    Returns (doc_id, clean_text, n_tokens, n_dropped). Documents made
    entirely of repeated text come back with empty clean_text — filter
    or drop as policy dictates.

    Distributed shape: positional windows → row_number per gram (ONE
    hash shuffle on the gram key — occurrences beyond the first are the
    duplicates, no separate count pass) → covered-position explode →
    anti-join against the token stream → ordered re-aggregation per
    doc. Never pairwise in documents; the only corpus-scale shuffles
    are gram-keyed and doc-keyed. ``hash_grams`` as in
    duplicate_ngram_spans (8-byte shuffle keys; the string path is the
    oracle twin).
    """
    toks = tokens(F.col(text_col))
    # hashed_shingles (see duplicate_ngram_spans): the gram-keyed
    # shuffle moves (long, id, pos) rows and no gram string ever exists
    gram_arr = (
        hashed_shingles(F.col(text_col), window)
        if hash_grams
        else shingles(F.col(text_col), window)
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        toks.alias("toks"),
        gram_arr.alias("grams"),
    )
    occ = base.select(
        "id",
        F.size("toks").alias("n_toks"),
        F.posexplode("grams").alias("pos", "gram"),
    )
    w = W.partitionBy("gram").orderBy("id", "pos")
    ranked = occ.select(
        "id", "n_toks", "pos", F.row_number().over(w).alias("rn")
    )
    cov_len = F.when(F.col("n_toks") >= window, F.lit(window)).otherwise(
        F.col("n_toks")
    )
    # NO distinct: overlapping covered positions repeat in this frame,
    # but the left_anti below is set-semantics on the probe side — a
    # duplicate right row changes nothing, and dropping the distinct
    # removes a full (id,tp) shuffle
    dropped = ranked.where(F.col("rn") > 1).select(
        "id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + cov_len - 1)).alias("tp"),
    )
    tok_stream = base.select("id", F.posexplode("toks").alias("tp", "tok"))
    # merge hint: `dropped` is corpus-scale (exploded covered positions
    # of every duplicate window) but Catalyst's size estimate after
    # explode is tiny, so it picks BroadcastHashJoin — measured 6.8 GiB
    # broadcast at gen-sf3 and an OOM at gen-sf10. Sort-merge shuffles
    # both sides on (id, tp) and spills safely at any scale.
    kept = tok_stream.join(dropped.hint("merge"), ["id", "tp"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # same estimate blindness here: `rebuilt` carries the whole cleaned
    # corpus text (one row per doc) — broadcasting it is corpus-sized
    return (
        base.select("id", F.size("toks").alias("n_tokens"))
        .join(rebuilt.hint("merge"), "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )


def pair_set_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """Precision/recall/F1 of a candidate pair set against ground truth
    — the evaluation harness for approximate dedup (is this LSH band
    plan recalling enough of the exact-Jaccard pairs?). Pairs are
    canonicalized (small id first) so orientation never miscounts.

    Scale: two distinct canonical pair sets, one full-outer equi-join on
    the pair key, three counts — every step keyed by the pair, nothing
    quadratic. Counts are exact; the three ratios are single
    deterministic divisions (hash-exact).
    """
    def canon(df: DataFrame) -> DataFrame:
        a, b = F.col(left_col), F.col(right_col)
        return df.select(
            F.least(a, b).alias("pa"), F.greatest(a, b).alias("pb")
        ).distinct()

    p, t = canon(predicted).withColumn("__p__", F.lit(1)), canon(truth).withColumn(
        "__t__", F.lit(1)
    )
    j = p.join(t, ["pa", "pb"], "full_outer")
    # count() of a conditional, not sum-of-when: empty inputs must yield
    # exact zeros, not nulls (caught by the hypothesis property test)
    agg = j.agg(
        F.count(F.when(F.col("__p__").isNotNull() & F.col("__t__").isNotNull(), 1)).cast("long").alias("tp"),
        F.count(F.when(F.col("__p__").isNotNull() & F.col("__t__").isNull(), 1)).cast("long").alias("fp"),
        F.count(F.when(F.col("__p__").isNull() & F.col("__t__").isNotNull(), 1)).cast("long").alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    # degenerate denominators -> null metric (not a crash under ANSI)
    prec = F.when(tp + fp > 0, tp.cast("double") / (tp + fp).cast("double"))
    rec = F.when(tp + fn > 0, tp.cast("double") / (tp + fn).cast("double"))
    f1 = F.when(
        F.lit(2) * tp + fp + fn > 0,
        F.lit(2.0) * tp.cast("double") / (F.lit(2) * tp + fp + fn).cast("double"),
    )
    return agg.select(
        "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple = (),
) -> DataFrame:
    """Token-set Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. 2007 / Xiao et al. 2008) — the candidate plan that
    beats length-blocking when token frequencies are skewed.

    Under one global token order (ascending corpus frequency, rarest
    first, token tie-break), any pair with J ≥ t must share a token
    inside both records' prefixes of length |x| − ⌈t·|x|⌉ + 1 (PPJoin
    Lemma 1) — so candidates are an equi-join on PREFIX tokens only.
    Rare tokens join tiny groups; the frequent tokens that make
    token-level joins quadratic are exactly the ones prefixes exclude.

    Exactness: the threshold is handled as the rational num/1000, so
    the prefix length uses integer ceil (no float boundary slip can
    shrink a prefix and silently drop a pair) and the final filter is
    the integer cross-multiplication inter·den ≥ num·union — the oracle
    (unblocked all-pairs) uses the same comparison, and its hash match
    IS the losslessness proof for the prefix plan on this corpus.

    Scale: frequency table is vocabulary-sized; per-doc ordering is one
    sort of its own tokens; candidate volume is Σ per-prefix-token
    populations² — bounded by prefix tokens' rarity, never corpus².
    """
    num, den = int(round(threshold * 1000)), 1000
    d = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
        *[F.col(c) for c in block_cols],
    )
    tok = d.select("id", *block_cols, F.explode("toks").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ordered = (
        tok.join(freq.hint("merge"), "tok")
        .groupBy("id", *block_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "tok"))),
                lambda s: s["tok"],
            ).alias("otoks")
        )
    )
    size = F.size("otoks")
    # ceil(t·n) on exact integers: floor((num·n + den − 1) / den)
    ceil_tn = F.floor((size * num + den - 1) / den)
    plen = (size - ceil_tn + 1).cast("int")
    pref = ordered.select(
        "id", *block_cols, F.explode(F.slice("otoks", 1, plen)).alias("ptok")
    )
    a = pref.select(
        F.col("id").alias("id_a"), *block_cols, "ptok"
    )
    b = pref.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("ptok").alias("__b_ptok"),
    )
    join_cond = (F.col("ptok") == F.col("__b_ptok")) & (
        F.col("id_a") < F.col("id_b")
    )
    for c in block_cols:
        join_cond = join_cond & (F.col(c) == F.col(f"__b_{c}"))
    cand = a.join(b.hint("merge"), join_cond).select("id_a", "id_b").distinct()
    arrs = ordered.select("id", "otoks")
    pairs = cand.join(
        arrs.select(F.col("id").alias("id_a"), F.col("otoks").alias("toks_a")).hint("merge"),
        "id_a",
    ).join(
        arrs.select(F.col("id").alias("id_b"), F.col("otoks").alias("toks_b")).hint("merge"),
        "id_b",
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        pairs.where(inter * den >= union * num)
        .select(
            "id_a", "id_b",
            (F.floor(inter * 1.0 / union * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023), production float path: cluster the
    embedding space with the IVF index builder (map-only broadcast-
    centroid assignment), then within each cluster drop every vector
    that has a LOWER-id neighbor with cosine ≥ ``threshold``.

    Returns (id, cid, keep, dup_of). The hash-verified pinned twin is
    ``queries/dedup.py::dedup_semantic_prune`` (milli-snapped Lloyd
    replay — the similarity_ivf_exact_replay pattern); this path keeps
    the float matmul assignment and float cosines for speed, with the
    identical prune rule.

    Scale: candidates are within-cluster only — grow n_clusters with
    the corpus so per-list populations stay bounded; the SemDeDup
    paper's recursive re-shard of oversized clusters is the escape
    hatch for skewed lists. Never corpus².
    """
    from arrow_spark.llm.similarity import cosine_similarity, ivf_build_index

    _, indexed = ivf_build_index(
        emb, n_clusters=n_clusters, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col,
    )
    a = indexed.select(
        F.col("nid").alias("ida"), "cid", F.col("nv").alias("va")
    )
    b = indexed.select(
        F.col("nid").alias("idb"), "cid", F.col("nv").alias("vb")
    )
    pairs = a.join(b, ["cid"]).where(F.col("ida") < F.col("idb"))
    dups = (
        pairs.where(
            cosine_similarity(F.col("va"), F.col("vb")) >= F.lit(threshold)
        )
        .groupBy(F.col("idb").alias("id"))
        .agg(F.min("ida").alias("dup_of"))
    )
    return (
        indexed.select(F.col("nid").alias("id"), "cid")
        .join(dups, "id", "left")
        .select("id", "cid", F.col("dup_of").isNull().alias("keep"), "dup_of")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple = (),
    min_tokens: int = 1,
    top_k_per_doc: int | None = None,
    stopgram_df_cap: int | None = None,
) -> DataFrame:
    """DIRECTED token-set containment pairs C(A→B) = |A∩B|/|A| ≥ t,
    A ≠ B — the asymmetric near-dup relation Jaccard misses: a 20-token
    license header is fully contained in any file quoting it while
    their Jaccard is ~0, and training-data pipelines excise exactly
    those contained boilerplate/quote docs (Lee et al. 2022 use the
    substring form; this is the token-set form).

    Candidates are LOSSLESS prefix-filtered on the CONTAINED side only:
    under the rarest-first global token order, if none of A's first
    |A| − ⌈t·|A|⌉ + 1 tokens appear in B then |A∩B| < t·|A|
    (pigeonhole), so A joins on its prefix tokens against B's FULL
    token postings — length blocking is unusable here (containment has
    no size-ratio bound). Thresholds are the rational num/1000 with
    integer ceil and the final filter is inter·den ≥ num·|A| on exact
    integers; the oracle's unblocked directed all-pairs hash match is
    the losslessness proof. Scale: B's posting frame is the same
    inverted index the BM25 ops build; A's prefix holds only its
    RAREST tokens, so the join touches short postings. Candidates then
    pass a LOSSLESS POSITIONAL FILTER (r13) before the verify joins:
    per pair, m matched prefix tokens plus the positional headroom
    min(ceil(t·|A|)−1, |B|−max_pb−1) must reach ceil(t·|A|) — see the
    inline proof at the aggregation below. This prunes the candidate
    set the r12 sweep measured as the quadratic verify driver without
    touching recall.

    EMISSION GUARDS (the pair set itself is ~quadratic on a
    boilerplate-dense corpus — 662 s at sf1 was output-bound, not
    plan-bound): ``min_tokens`` floors the CONTAINED side — tiny
    boilerplate docs are the quadratic source, since a 5-token header
    is contained in everything — cutting candidates before the join;
    ``top_k_per_doc`` keeps only each contained doc's k strongest
    containers (containment DESC, id_b ASC — deterministic, and for a
    fixed A ordering by containment ≡ ordering by the integer |A∩B|),
    bounding output at k·n rows. Both default off so the unguarded
    relation stays oracle-provable; production pipelines at 100 TB
    should set both.

    ``stopgram_df_cap`` (r13, default off — an EXPLICIT RECALL KNOB,
    not lossless): drop prefix tokens whose corpus document frequency
    exceeds the cap from CANDIDATE GENERATION. The r13 decomposition
    showed this corpus is output-bound (74% of positionally-filtered
    candidates qualify at gen-sf0.1), so no lossless candidate bound
    can break the quadratic: the qualifying relation itself is the
    work. On template-heavy corpora the explosion routes through a few
    ultra-common template tokens; capping their posting participation
    bounds candidates at Σ_{df(g)≤cap} df(g)² while MISSING exactly
    the pairs whose every prefix token is a stopgram (a doc made
    ENTIRELY of template tokens loses its containers). That is a
    recall trade a 100 TB pipeline usually wants (such docs are the
    boilerplate dedup deletes anyway) and an oracle hash-match never
    can — which is why it defaults off and has no registered-query
    consumer; planted-data unit tests pin the semantics."""
    num, den = int(round(threshold * 1000)), 1000
    d = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
        *[F.col(c) for c in block_cols],
    ).where(F.size("toks") >= 1)
    tok = d.select("id", *block_cols, F.explode("toks").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ordered = (
        tok.join(freq.hint("merge"), "tok")
        .groupBy("id", *block_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "tok"))),
                lambda s: s["tok"],
            ).alias("otoks")
        )
    )
    size = F.size("otoks")
    ceil_tn = F.floor((size * num + den - 1) / den)
    plen = (size - ceil_tn + 1).cast("int")
    # min_tokens guards the CONTAINED side only: B stays unrestricted
    # (a large doc may legitimately contain a min_tokens-sized one —
    # the guard's point is to stop tiny docs from BEING the A side)
    contained = ordered.where(size >= int(min_tokens)) if min_tokens > 1 else ordered
    pref_a = contained.select(
        F.col("id").alias("id_a"),
        size.alias("sz_a"),
        *block_cols,
        F.explode(F.slice("otoks", 1, plen)).alias("ptok"),
    )
    if stopgram_df_cap is not None:
        # recall knob (see docstring): prefix tokens with document
        # frequency above the cap never generate candidates. The join
        # is prefix-row-scale against the vocabulary-scale freq table.
        rare = freq.where(F.col("f") <= int(stopgram_df_cap)).select(
            F.col("tok").alias("ptok")
        )
        pref_a = pref_a.join(rare.hint("merge"), "ptok", "left_semi")
    post_b = ordered.select(
        F.col("id").alias("id_b"),
        F.size("otoks").alias("sz_b"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.posexplode("otoks").alias("pb", "__b_tok"),
    )
    join_cond = (F.col("ptok") == F.col("__b_tok")) & (
        F.col("id_a") != F.col("id_b")
    )
    for c in block_cols:
        join_cond = join_cond & (F.col(c) == F.col(f"__b_{c}"))
    # POSITIONAL FILTER (r13, lossless — the PPJoin Lemma-2 idea adapted
    # to the directed predicate): aggregate the prefix matches per pair
    # instead of distinct-ing them away. m = |prefix(A) ∩ B| EXACTLY
    # (prefix tokens of A joined against B's full ordered postings, all
    # tokens distinct per doc); every common token of A's SUFFIX orders
    # after every matched prefix token under the shared global
    # (freq, tok) order, so in B's ordered array it sits at a position
    # strictly greater than max_pb — distinct common suffix tokens
    # therefore number ≤ |B| − max_pb − 1, and also ≤ |A| − plen =
    # ceil(t·|A|) − 1. A qualifying pair needs |A∩B| = m + |suffix∩B| ≥
    # ceil(t·|A|), so pairs failing
    #     m + min(ceil(t·|A|) − 1, |B| − max_pb − 1) ≥ ceil(t·|A|)
    # provably cannot qualify and never reach the array-attach verify
    # joins — the stage VERDICT r12 measured as candidate-bound
    # (~quadratic scoring on dup-dense corpora even with capped output).
    # The groupBy shuffles the same (id_a, id_b) key the old .distinct()
    # did, carrying three ints; losslessness is re-proven every round by
    # the unblocked all-pairs oracle hash match at sf0.001/sf0.01.
    matched = pref_a.join(post_b.hint("merge"), join_cond)
    agg = matched.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("__m"),
        F.max("pb").alias("__max_pb"),
        F.first("sz_a").alias("__sz_a"),
        F.first("sz_b").alias("__sz_b"),
    )
    ceil_a = F.floor((F.col("__sz_a") * num + den - 1) / den)
    cand = agg.where(
        F.col("__m")
        + F.least(ceil_a - 1, F.col("__sz_b") - F.col("__max_pb") - 1)
        >= ceil_a
    ).select("id_a", "id_b")
    # VERIFY-JOIN STRATEGY (r12): the token arrays attach to candidate
    # pairs via SHUFFLED-HASH joins, hash-built on the per-doc array
    # frame. Why not the two alternatives, both measured at gen-sf1:
    # - merge hints (the r11 shape) SORT the candidate-pair stream with
    #   a full token array on every row — on this dup-dense corpus the
    #   candidate relation is ~quadratic, and the sort allocated 1 GiB
    #   pages, spilled >40 GB, and died of GC starvation in a 16 g heap;
    # - a skinny-row rewrite (explode A's tokens over its candidate
    #   pairs, count matches against B's postings) never sorts arrays
    #   but shuffles Σ_cand |A| rows ≈ 10⁹ at gen-sf1 — 2.3× slower at
    #   gen-sf0.1 and >50 GB of shuffle at gen-sf1.
    # Shuffled-hash keeps the per-pair array_intersect (vectorized, no
    # row explosion) while never sorting an array-carrying row: the
    # build side of each join is the doc-count-scale array frame whose
    # per-partition slice is bounded by docs/shuffle-partitions, and
    # Spark's ShuffledHashJoin spills the build map when it doesn't
    # fit. No broadcast anywhere — the frame Catalyst used to broadcast
    # here is aggregate-derived (estimate-blind, the r11 hazard class).
    arrs = ordered.select("id", "otoks")
    pairs = cand.join(
        arrs.select(F.col("id").alias("id_a"), F.col("otoks").alias("toks_a")).hint("shuffle_hash"),
        "id_a",
    ).join(
        arrs.select(F.col("id").alias("id_b"), F.col("otoks").alias("toks_b")).hint("shuffle_hash"),
        "id_b",
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    sz_a = F.size("toks_a")
    out = pairs.where(inter * den >= num * sz_a).select(
        "id_a",
        "id_b",
        (F.floor(inter * 1.0 / sz_a * 1e6 + F.lit(0.5)) / 1e6).alias("containment"),
    )
    if top_k_per_doc is not None:
        wk = W.partitionBy("id_a").orderBy(
            F.col("containment").desc(), F.col("id_b")
        )
        out = (
            out.withColumn("__rk", F.row_number().over(wk))
            .where(F.col("__rk") <= int(top_k_per_doc))
            .drop("__rk")
        )
    return out
