"""Coverage extras: rollup, aggregate options (skip_nulls/min_count),
winsorize, rank_quantile/rank_normal, the cast matrix, empty-input
semantics, and multimodal plumbing.

The rank_normal oracle spells out the exact same probit polynomial the
engine uses (both sides identical IEEE ops → hash-equal), since no SQL
engine ships an inverse normal CDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from arrow_spark.catalog import table
from arrow_spark.operators.winsorize import winsorize
from arrow_spark.queries.base import query

ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@query("rollup_agg", oracle=ROLLUP_ORACLE)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (hierarchical subtotals)."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price")
    )


MIN_COUNT_ORACLE = """
SELECT
  o_orderstatus,
  CASE WHEN count(o_totalprice) >= 1000 THEN round(sum(o_totalprice), 2) END AS sum_mc,
  count(o_totalprice) AS n_valid
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_min_count", oracle=MIN_COUNT_ORACLE)
def agg_min_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow ScalarAggregateOptions min_count: the aggregate yields null
    unless ≥ min_count valid inputs exist (api_aggregate.h:48-61)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.when(F.count("o_totalprice") >= 1000, F.round(F.sum("o_totalprice"), 2)).alias(
            "sum_mc"
        ),
        F.count("o_totalprice").alias("n_valid"),
    )


WINSORIZE_ORACLE = """
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_orderkey, l_linenumber,
       round(least(greatest(l_extendedprice, lo), hi), 6) AS price_w
FROM lineitem JOIN b USING (l_returnflag)
WHERE l_orderkey % 12 = 0
"""


@query("winsorize_prices", oracle=WINSORIZE_ORACLE)
def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winsorize: clip at per-group 5%/95% interpolated quantiles."""
    l = table(spark, sf_dir, "lineitem")
    out = winsorize(l, "l_extendedprice", ["l_returnflag"], 0.05, 0.95, out_col="price_w")
    return out.where(F.col("l_orderkey") % 12 == 0).select(
        "l_orderkey", "l_linenumber", F.round("price_w", 6).alias("price_w")
    )


# -- rank_quantile / rank_normal -------------------------------------------

_A = [-39.69683028665376, 220.9460984245205, -275.9285104469687,
      138.3577518672690, -30.66479806614716, 2.506628277459239]
_B = [-54.47609879822406, 161.5858368580409, -155.6989798598866,
      66.80131188771972, -13.28068155288572]
_C = [-0.007784894002430293, -0.3223964580411365, -2.400758277161838,
      -2.549732539343734, 4.374664141464968, 2.938163982698783]
_D = [0.007784695709041462, 0.3224671290700398, 2.445134137142996,
      3.754408661907416]


def _poly_sql(coeffs: list[float], var: str) -> str:
    expr = repr(coeffs[0])
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + {c!r})"
    return expr


def _probit_sql(p: str) -> str:
    qm = f"({p} - 0.5)"
    rm = f"({qm} * {qm})"
    mid = f"(({_poly_sql(_A, rm)} * {qm}) / ({_poly_sql(_B, rm)} * {rm} + 1.0))"
    ql = f"sqrt(-2.0 * ln({p}))"
    low = f"({_poly_sql(_C, ql)} / ({_poly_sql(_D, ql)} * {ql} + 1.0))"
    qh = f"sqrt(-2.0 * ln(1.0 - {p}))"
    high = f"(-{_poly_sql(_C, qh)} / ({_poly_sql(_D, qh)} * {qh} + 1.0))"
    return (
        f"CASE WHEN {p} < 0.02425 THEN {low} "
        f"WHEN {p} > 0.97575 THEN {high} ELSE {mid} END"
    )


RANK_NORMAL_ORACLE = f"""
WITH r AS (
  SELECT l_orderkey, l_linenumber,
         rank()   OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rnk,
         count(*) OVER (PARTITION BY l_returnflag)                     AS n
  FROM lineitem WHERE l_orderkey % 15 = 0 AND l_quantity IS NOT NULL
),
p AS (SELECT *, (rnk - 0.5) / n AS pq FROM r)
SELECT l_orderkey, l_linenumber,
       round(pq, 6) AS q_rank,
       round({_probit_sql('pq')}, 6) AS z_rank
FROM p
"""


@query("rank_quantile_normal", oracle=RANK_NORMAL_ORACLE)
def rank_quantile_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank_quantile ((rank-0.5)/n) and rank_normal (Gaussian quantile
    transform via the Acklam probit approximation — vector_rank.cc
    rank_quantile / rank_normal, api_vector.h:261)."""
    from arrow_spark.functions.registry import _probit

    l = table(spark, sf_dir, "lineitem").where(
        (F.col("l_orderkey") % 15 == 0) & F.col("l_quantity").isNotNull()
    )
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    wf = W.partitionBy("l_returnflag")
    p = (F.rank().over(w) - 0.5) / F.count(F.lit(1)).over(wf)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(p, 6).alias("q_rank"),
        F.round(_probit(p), 6).alias("z_rank"),
    )


CAST_MATRIX_ORACLE = """
SELECT
  o_orderkey,
  CAST(o_orderkey AS INTEGER)                  AS to_int,
  TRY_CAST(round(o_totalprice, 0) AS SMALLINT) AS to_small_try,
  CAST(o_orderkey AS VARCHAR)                  AS to_str,
  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT)  AS str_roundtrip,
  TRY_CAST(o_orderstatus AS BIGINT)            AS bad_int,
  CAST(o_orderdate AS DATE)                    AS to_date,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR)   AS date_str,
  CAST(o_orderkey % 2 AS BOOLEAN)              AS to_bool,
  CAST(CAST(o_orderkey % 2 AS BOOLEAN) AS INT) AS bool_int,
  CAST(o_orderkey AS DOUBLE)                   AS to_double
FROM orders WHERE o_orderkey % 13 = 0
"""


@query("cast_matrix", oracle=CAST_MATRIX_ORACLE)
def cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The N×N cast matrix core (cast.cc, CastOptions): numeric
    narrowing (checked → try_cast null), string round-trips, temporal,
    boolean."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 13 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.cast("int").alias("to_int"),
        # double→int casts truncate in Spark but round in DuckDB; round
        # explicitly on both sides so the semantics compared are ours
        F.expr("try_cast(round(o_totalprice, 0) AS SMALLINT)").alias("to_small_try"),
        k.cast("string").alias("to_str"),
        k.cast("string").cast("bigint").alias("str_roundtrip"),
        F.expr("try_cast(o_orderstatus AS BIGINT)").alias("bad_int"),
        F.col("o_orderdate").cast("date").alias("to_date"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        (k % 2).cast("boolean").alias("to_bool"),
        (k % 2).cast("boolean").cast("int").alias("bool_int"),
        k.cast("double").alias("to_double"),
    )


EMPTY_ORACLE = """
SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS s,
       min(l_quantity) AS mn, CAST(bool_or(l_quantity > 0) AS INT) AS any_pos
FROM lineitem WHERE 1 = 0
"""


@query("empty_input_agg", oracle=EMPTY_ORACLE)
def empty_input_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scalar aggregation over an empty input: one row, count 0, null
    aggregates (FIXTURES coverage note: empty tables / empty groups)."""
    l = table(spark, sf_dir, "lineitem").where(F.lit(False))
    return l.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("s"),
        F.min("l_quantity").alias("mn"),
        # null boolean converts asymmetrically across pandas bridges —
        # int-typed null is NaN on both sides
        F.bool_or(F.col("l_quantity") > 0).cast("int").alias("any_pos"),
    )


COLLECT_ORACLE = """
SELECT
  c_mktsegment,
  array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
  array_to_string(list_sort(list(c_nationkey))[1:5], ',')     AS first5_sorted
FROM customer
GROUP BY c_mktsegment
"""


@query("agg_collect_list_set", oracle=COLLECT_ORACLE)
def agg_collect_list_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hash_list / hash_distinct (collect_list / collect_set) — sorted,
    then string-joined: array cells bridge to pandas as numpy-array vs
    list across engines and stringify differently, so the comparison is
    done on a canonical scalar form."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.array_join(F.sort_array(F.collect_set("c_nationkey")), ",").alias("nations"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("c_nationkey")), 1, 5), ","
        ).alias("first5_sorted"),
    )


SUBQUERY_ORACLE = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders o
WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 40)
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
"""


@query("subqueries", oracle=SUBQUERY_ORACLE)
def subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scalar + correlated-EXISTS + IN subqueries — capabilities Catalyst
    adds over the reference (Arrow has no subqueries, SURVEY §4);
    decorrelation turns these into the joins/aggregates it does have."""
    for t in ("orders", "lineitem", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"sq_{t}")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM sq_orders o
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM sq_orders)
          AND EXISTS (SELECT 1 FROM sq_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 40)
          AND o_custkey IN (SELECT c_custkey FROM sq_customer
                            WHERE c_mktsegment = 'MACHINERY')
        """
    )


@query("approx_sketches", oracle=None)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch aggregates: HLL distinct-count + t-digest-style quantile
    (Arrow tdigest/approximate_median, aggregate_tdigest.cc). Rows-only:
    sketch outputs are algorithm-specific; exactness is covered by
    agg_quantile / agg_counts. Exactness-bounds asserted here instead."""
    l = table(spark, sf_dir, "lineitem")
    out = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_med"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    # sanity gate inside the query: approx within 5% of exact
    return out.where(
        (F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")) < 0.05
    )


# The fake decoder's first feature is byte 0 of the utf-8 payload / 255
# — reachable in SQL via hex(text::BLOB), so the mapInPandas decode
# pipeline's OUTPUT is hash-checked, not just its row count.
MULTIMODAL_FEATURES_ORACLE = """
SELECT doc_id AS media_id,
       octet_length(text::BLOB)::BIGINT AS n_bytes,
       CASE WHEN octet_length(text::BLOB) = 0 THEN 0.0
            ELSE round(('0x' || substr(hex(text::BLOB), 1, 2))::INT / 255.0, 6)
       END AS f0
FROM documents
"""


@query("multimodal_features", oracle=MULTIMODAL_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal plumbing as a pipeline: text → binary payload → media
    contract → mapInPandas feature extraction with the deterministic
    fake decoder. The decoder's f0 = payload[0]/255, which DuckDB
    reproduces from hex(blob) — so the executor-side decode path is
    value-checked end to end (real codecs are exercised by the
    multimodal_png_decode / multimodal_wav_decode queries)."""
    from arrow_spark.llm.multimodal import attach_binary_meta, extract_features

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    media = attach_binary_meta(d, "payload", mime="image/fake", id_col="doc_id")
    out = extract_features(media)
    return out.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


# After resize_media(16, 16) every payload is exactly 256 bytes, so
# sample_frames(max_frames=4) must fan each doc out to 4 frames of 64
# bytes — a fully static contract the oracle states directly. The hash
# match pins the mapInPandas row-explosion arithmetic (frame count,
# index order, chunk sizes), which is the real content of this query.
MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id AS media_id, r::INT AS frame_index, 64::BIGINT AS n_bytes
FROM documents, (SELECT unnest(range(4)) AS r) f
"""


@query("multimodal_frame_pipeline", oracle=MULTIMODAL_FRAMES_ORACLE)
def multimodal_frame_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize → frame-sample composition over the media contract: each
    payload resized to a fixed 16×16 'image', then fanned out to 4
    frames of 64 bytes — the resize/chunk arithmetic is deterministic,
    so the fan-out (row multiplicity, frame indexes, sizes) is
    hash-checked against the closed-form oracle."""
    from arrow_spark.llm.multimodal import attach_binary_meta, resize_media, sample_frames

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    media = attach_binary_meta(d, "payload", mime="image/fake", id_col="doc_id")
    frames = sample_frames(resize_media(media, 16, 16), max_frames=4)
    return frames.select("media_id", "frame_index", "n_bytes")


def _portable_sql(expr: str, seed) -> str:
    """DuckDB fragment of functions/portable_hash.portable_hash64 with a
    dynamic seed expression (seed may be a column name or int literal)."""
    return f"('0x' || substr(md5({seed} || ':' || {expr}), 1, 15))::BIGINT"


def _slot_sql(expr: str, i: int, n_slots: int, m: int) -> str:
    """DuckDB fragment of operators/sketches._hash_slots slot i: ONE md5
    per value, sliced into non-overlapping hex windows."""
    w = min(32 // n_slots, 15)
    return (
        f"('0x' || substr(md5('0:' || {expr}), {1 + i * w}, {w}))::BIGINT % {m}"
    )


# Exact replay of the portable-hash Count-Min: depth×width cells from
# hex slices of one md5 per value, then min-over-rows per probed item —
# the same arithmetic the Spark build runs, hash for hash.
CMS_ORACLE = f"""
WITH cells_raw AS (
  {' UNION ALL '.join(f"SELECT {i} AS row, {_slot_sql('o_orderpriority', i, 4, 1024)} AS bucket FROM orders" for i in range(4))}
), cells AS (
  SELECT row, bucket, count(*) AS cnt FROM cells_raw GROUP BY 1, 2
), probes AS (
  SELECT DISTINCT o_orderpriority AS item FROM orders
), addressed AS (
  {' UNION ALL '.join(f"SELECT item, {i} AS row, {_slot_sql('item', i, 4, 1024)} AS bucket FROM probes" for i in range(4))}
)
SELECT item AS o_orderpriority, min(coalesce(cnt, 0))::BIGINT AS est
FROM addressed LEFT JOIN cells USING (row, bucket)
GROUP BY 1
"""


@query("sketch_count_min", oracle=CMS_ORACLE)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for every (o_orderpriority) key,
    built with the PORTABLE hash family (functions/portable_hash.py) so
    the DuckDB oracle replays the sketch cell-for-cell — the estimate
    itself is hash-checked, not just invariant-tested. The xxhash64
    family stays the throughput default; never-undercounts and
    merge-exactness are additionally unit-tested against exact counts."""
    from arrow_spark.operators.sketches import count_min_build, count_min_estimate

    o = table(spark, sf_dir, "orders")
    sketch = count_min_build(o, "o_orderpriority", width=1024, depth=4,
                             hash_family="portable")
    est = count_min_estimate(sketch, o, "o_orderpriority", width=1024, depth=4,
                             hash_family="portable")
    return est.withColumnRenamed("item", "o_orderpriority")


SALTED_JOIN_ORACLE = """
SELECT l_returnflag,
       floor(round(sum(l_extendedprice * fee_rate), 4) * 100 + 0.5) / 100 AS total_fee
FROM lineitem
JOIN (VALUES ('A', 0.01), ('N', 0.02), ('R', 0.03)) AS fees(flag, fee_rate)
  ON l_returnflag = flag
GROUP BY l_returnflag
"""


@query("salted_skew_join", oracle=SALTED_JOIN_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pathological skew: joining the fact table on a 3-value key
    (l_returnflag) — every row hits one of 3 reducers unsalted. The
    salted join spreads each hot key over 8 (key, salt) buckets; the
    oracle is the plain join, so the hash match proves salting is
    result-invariant."""
    from arrow_spark.operators.partitioning import salted_join

    l = table(spark, sf_dir, "lineitem")
    fees = spark.createDataFrame(
        [("A", 0.01), ("N", 0.02), ("R", 0.03)], "l_returnflag string, fee_rate double"
    )
    joined = salted_join(l, fees, on="l_returnflag", salt_buckets=8)
    fee_sum = F.sum(F.col("l_extendedprice") * F.col("fee_rate"))
    # tie-safe 2-dec rounding of a 4-decimal-granular sum (see tpch._sum2x)
    total = F.floor(F.round(fee_sum, 4) * 100 + F.lit(0.5)) / 100
    return joined.groupBy("l_returnflag").agg(total.alias("total_fee"))


@query("sketch_hll", oracle=None)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeable HyperLogLog distinct sketches: per-(lang,source) builds
    merged up to lang, estimates attached (rows-only: Datasketches
    binaries aren't reproducible in the oracle; the merge law — union of
    sketches ≡ sketch of union — and accuracy vs exact distinct are
    unit-tested in test_llm_ops.py)."""
    from arrow_spark.operators.sketches import hll_build, hll_estimate, hll_merge

    docs = table(spark, sf_dir, "documents")
    per_source = hll_build(docs, ["lang", "source"], "text", lgk=12)
    return hll_estimate(hll_merge(per_source, ["lang"])).select("lang", "approx_distinct")


def _hll_rel_oracle(p: int = 9, max_rank: int = 40) -> str:
    """Exact SQL replay of the relational HLL (operators/sketches.py):
    portable hash → top-p-bit bucket / leading-zero rank (via binary
    string length — no float log2) → max-register groupBy → ONE integer
    harmonic sum → the α·m²/Σ2^-reg estimate with linear-counting
    small-range correction. The oracle builds registers per lang
    DIRECTLY while the Spark path builds per (lang, source) and merges —
    so the hash match also proves the merge law."""
    from arrow_spark.operators.sketches import hll_alpha

    m = 1 << p
    w = 60 - p
    alpha_c = hll_alpha(m) * float(m * m * (1 << max_rank))
    return f"""
WITH h AS (
  SELECT lang, {_portable_sql('text', 0)} AS h FROM documents
), br AS (
  SELECT lang, h >> {w} AS bucket,
         least(CASE WHEN (h & {(1 << w) - 1}) = 0 THEN {w + 1}
               ELSE {w} - length(bin(h & {(1 << w) - 1})) + 1 END,
               {max_rank}) AS rank
  FROM h
), regs AS (
  SELECT lang, bucket, max(rank) AS rank FROM br GROUP BY 1, 2
), agg AS (
  SELECT lang, count(*) AS present,
         sum(1::BIGINT << ({max_rank} - rank)::INT)::BIGINT AS s_present
  FROM regs GROUP BY 1
), est AS (
  SELECT lang, ({m} - present)::BIGINT AS zero_registers,
         (s_present + ({m} - present) * {1 << max_rank})::BIGINT AS harmonic_scaled,
         {alpha_c!r} / (s_present + ({m} - present) * {1 << max_rank})::DOUBLE AS raw
  FROM agg
)
SELECT lang, zero_registers, harmonic_scaled,
       floor((CASE WHEN raw <= {2.5 * m!r} AND zero_registers > 0
              THEN {float(m)!r} * ln({float(m)!r} / zero_registers::DOUBLE)
              ELSE raw END) * 1e4 + 0.5) / 1e4 AS approx_distinct
FROM est
"""


@query("sketch_hll_rel", oracle=_hll_rel_oracle())
def sketch_hll_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relational HyperLogLog: registers as (lang, bucket, rank) rows
    from the portable hash, built per (lang, source), max-merged up to
    lang, estimated with ONE integer harmonic sum — every piece
    engine-portable arithmetic, so unlike the Datasketches-binary twin
    (sketch_hll, rows-only) the ESTIMATE itself is hash-checked against
    DuckDB, and the merge law is proven by the oracle building registers
    per lang directly."""
    from arrow_spark.operators.sketches import (
        hll_rel_build,
        hll_rel_estimate,
        hll_rel_merge,
    )

    docs = table(spark, sf_dir, "documents")
    per_source = hll_rel_build(docs, "text", keys=["lang", "source"], p=9)
    merged = hll_rel_merge(per_source, keys=["lang"])
    return hll_rel_estimate(merged, keys=["lang"], p=9)


RLE_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, event_type,
         CASE WHEN event_type IS NOT DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
              THEN 0 ELSE 1 END AS chg
  FROM events
), runs AS (
  SELECT user_id, event_id, event_type,
         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_seq
  FROM flagged
)
SELECT user_id, run_seq, any_value(event_type) AS value,
       min(event_id) AS run_start, count(*) AS run_length
FROM runs
GROUP BY user_id, run_seq
"""


@query("encode_rle", oracle=RLE_ORACLE)
def encode_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run-length encoding as a relational operator (Arrow REE
    capability in logical form — vector_run_end_encode.cc): consecutive
    event_type runs per user under event_id order; partition-parallel
    (one shuffle on user_id, no global window); decode round-trip is
    unit-tested."""
    from arrow_spark.operators.encodings import run_length_encode

    return run_length_encode(
        table(spark, sf_dir, "events"),
        "event_type",
        order_by=["event_id"],
        partition_by=["user_id"],
    )


DICT_ENCODE_ORACLE = """
WITH d AS (
  SELECT DISTINCT l_returnflag AS value FROM lineitem
), codes AS (
  SELECT value, dense_rank() OVER (ORDER BY value) - 1 AS code FROM d
)
SELECT l_orderkey, l_linenumber, code
FROM lineitem JOIN codes ON l_returnflag = value
"""


@query("encode_dictionary", oracle=DICT_ENCODE_ORACLE)
def encode_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dictionary encoding in logical form (Arrow dictionary arrays):
    per-row codes assigned by value sort order — deterministic, so the
    oracle hash checks every row's code; the code window sorts DISTINCT
    values only (dictionary-sized, not row-sized)."""
    from arrow_spark.operators.encodings import dictionary_encode

    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    encoded, _ = dictionary_encode(l, "l_returnflag")
    return encoded.select("l_orderkey", "l_linenumber", "code")


MM_RETRIEVAL_ORACLE = """
WITH feats AS (
  SELECT doc_id AS vec_id,
         list_transform(range(1, 9),
           i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS DOUBLE) / 255.0)
           AS embedding
  FROM documents WHERE doc_id < 200
), q AS (
  SELECT vec_id AS qid, embedding AS qv FROM feats WHERE vec_id < 3
), pairs AS (
  SELECT q.qid, f.vec_id AS nid,
         list_cosine_similarity(q.qv, f.embedding) AS cos
  FROM q, feats f WHERE f.vec_id <> q.qid
), ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM pairs
)
SELECT qid, nid, round(cos, 6) AS cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("multimodal_retrieval", oracle=MM_RETRIEVAL_ORACLE)
def multimodal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """end-to-end multimodal retrieval plumbing: binary payloads →
    media contract (attach_binary_meta) → executor-side decode/feature
    extraction (mapInPandas, deterministic fake codec: 8 'pixels' from
    the first payload bytes) → exact cosine top-5 over the extracted
    embedding column. FULLY oracled since r4: the corpus subset is
    deterministic (doc_id < 200), the ASCII fixture texts make the fake
    decoder SQL-expressible (ascii(char i)/255), and the cosine replay
    follows similarity_topk_cosine. (Was rows-only: the old .limit(200)
    subset was not replayable.)"""
    from arrow_spark.llm.multimodal import attach_binary_meta, extract_features
    from arrow_spark.llm.similarity import brute_force_topk

    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = attach_binary_meta(
        docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("img")),
        "img",
        mime="image/fake",
        id_col="doc_id",
    )
    feats = extract_features(media)
    corpus = feats.select(F.col("media_id").alias("vec_id"), F.col("features").alias("embedding"))
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return brute_force_topk(corpus, queries, k=5).select(
        "qid", "nid", F.round("cos", 6).alias("cos_sim"), "rank"
    )


ZORDER_ORACLE = """
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         l_partkey % 65536 AS x, l_suppkey % 65536 AS y
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CAST((SELECT sum((((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1)))
             FROM generate_series(0, 15) AS t(i)) AS BIGINT) AS zval
FROM b
"""


@query("layout_zorder", oracle=ZORDER_ORACLE)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over (l_partkey, l_suppkey) — the multi-dim
    layout key zorder_by range-partitions on so parquet min/max stats
    prune filters on either column; pure shift/add arithmetic, per-row
    hash-checked against DuckDB."""
    from arrow_spark.operators.layout import zorder_value

    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        zorder_value(
            [F.pmod(F.col("l_partkey"), F.lit(65536)), F.pmod(F.col("l_suppkey"), F.lit(65536))]
        ).alias("zval"),
    )


HIST_QUANTILE_ORACLE = """
WITH h AS (
  SELECT l_returnflag, (round(l_extendedprice * 100)::BIGINT // 5000) AS bucket,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, bucket, n,
         sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY l_returnflag) AS tot
  FROM h
)
SELECT l_returnflag,
       min(CASE WHEN cum * 1.0 >= 0.5 * tot THEN (bucket + 1) * 5000 / 100.0 END) AS p50_ub,
       min(CASE WHEN cum * 1.0 >= 0.95 * tot THEN (bucket + 1) * 5000 / 100.0 END) AS p95_ub
FROM c
GROUP BY l_returnflag
"""


@query("sketch_histogram_quantiles", oracle=HIST_QUANTILE_ORACLE)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeable fixed-width histogram sketch → p50/p95 upper bounds per
    returnflag. Integer cent-buckets make the whole sketch AND the
    quantile pick bit-deterministic cross-engine (hash-checked), unlike
    libm log-buckets; error ≤ one bucket width (unit-tested vs exact)."""
    from arrow_spark.operators.sketches import histogram_build, histogram_quantile

    l = table(spark, sf_dir, "lineitem")
    h = histogram_build(l, "l_extendedprice", keys=["l_returnflag"])
    p50 = histogram_quantile(h, 0.5, keys=["l_returnflag"], out_col="p50_ub")
    p95 = histogram_quantile(h, 0.95, keys=["l_returnflag"], out_col="p95_ub")
    return p50.join(p95, "l_returnflag")


MERGE_UPSERT_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) * 100000 + event_id AS seq,
         value, (value < 1.0) AS deleted
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY seq DESC) AS rn
  FROM e
)
SELECT user_id, event_type, event_id, seq, value
FROM ranked WHERE rn = 1 AND NOT deleted
"""


@query("merge_upsert_snapshot", oracle=MERGE_UPSERT_ORACLE)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction (lakehouse MERGE): the first half of the event
    stream is the base snapshot, the second half the change feed; the
    latest version per (user, event_type) wins and tombstones (value <
    1.0) drop out. One keys-hash shuffle (operators/upsert.py); the
    oracle ranks the union the same way, so the hash checks every
    surviving version choice."""
    from arrow_spark.operators.upsert import merge_upsert

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        (F.unix_timestamp("ts") * 100000 + F.col("event_id")).alias("seq"),
        "value",
        (F.col("value") < 1.0).alias("deleted"),
    )
    base = e.where(F.col("event_id") < 5000)
    upd = e.where(F.col("event_id") >= 5000)
    out = merge_upsert(base, upd, ["user_id", "event_type"], "seq", "deleted")
    return out.select("user_id", "event_type", "event_id", "seq", "value")


# Bit-level replay of the portable-hash Bloom filter: a set bit ≡ a
# distinct (lang, position) pair, so set_bits = count of distinct
# positions and a probe hits iff ALL k of its positions were set — no
# word packing needed in SQL (and no signed-shift edge cases).
BLOOM_SKETCH_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), pos_raw AS (
  {' UNION ALL '.join(f"SELECT lang, {_slot_sql('token', i, 4, 4096)} AS pos FROM toks" for i in range(4))}
), positions AS (
  SELECT DISTINCT lang, pos FROM pos_raw
), probes AS (SELECT unnest(['the', 'data', 'zzzznotaword']) AS w),
ppos_raw AS (
  {' UNION ALL '.join(f"SELECT d.lang, probes.w, {_slot_sql('w', i, 4, 4096)} AS pos FROM (SELECT DISTINCT lang FROM documents) d, probes" for i in range(4))}
), ppos AS (
  SELECT DISTINCT lang, w, pos FROM ppos_raw
), checked AS (
  SELECT p.lang, p.w, bool_and(positions.pos IS NOT NULL) AS hit
  FROM ppos p
  LEFT JOIN positions ON p.lang = positions.lang AND p.pos = positions.pos
  GROUP BY 1, 2
), hits AS (
  SELECT lang, count(*)::INT AS n_probe_hits FROM checked WHERE hit GROUP BY lang
), bits AS (
  SELECT lang, count(*)::BIGINT AS set_bits FROM positions GROUP BY lang
)
SELECT b.lang, coalesce(h.n_probe_hits, 0) AS n_probe_hits, b.set_bits
FROM bits b LEFT JOIN hits h USING (lang)
"""


@query("sketch_bloom", oracle=BLOOM_SKETCH_ORACLE)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language Bloom filters over document tokens, probed with a
    fixed word list — built with the PORTABLE hash family so the DuckDB
    oracle replays every bit position (set_bits AND probe membership are
    hash-checked; the no-false-negative and merge laws are additionally
    unit-tested, and xxhash64 stays the throughput default). The filter
    frame is the relational form of the join-interior bloom the
    reference builds in acero/bloom_filter.h."""
    from arrow_spark.llm.dedup import tokens
    from arrow_spark.operators.sketches import bloom_build, bloom_might_contain

    d = table(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    )
    blooms = bloom_build(d, "token", keys=["lang"], m_bits=4096, k=4,
                         hash_family="portable")
    probes = F.array(*[F.lit(w) for w in ("the", "data", "zzzznotaword")])
    hits = F.size(
        F.filter(
            probes,
            lambda w: bloom_might_contain(
                F.col("words"), w, 4096, 4, hash_family="portable"
            ),
        )
    )
    set_bits = F.aggregate(
        F.col("words"), F.lit(0).cast("long"), lambda acc, w: acc + F.bit_count(w)
    )
    return blooms.select(
        "lang", hits.alias("n_probe_hits"), set_bits.alias("set_bits")
    ).orderBy("lang")


BLOOM_GUARD_ORACLE = """
SELECT o_orderkey, count(*) AS n_items,
       floor(round(sum(l_extendedprice), 2) * 1e6 + 0.5) / 1e6 AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_totalprice > 400000
GROUP BY o_orderkey
"""


@query("bloom_guarded_join", oracle=BLOOM_GUARD_ORACLE)
def bloom_guarded_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the reference's join-interior bloom pushdown
    (acero/bloom_filter.h) as an explicit relational guard: a bloom
    built from the selective orders side pre-filters the lineitem scan
    before the real join. The oracle is the UNGUARDED join — the hash
    match proves no-false-negatives makes the guard result-invariant
    (false positives are removed by the join itself). At 100 TB the
    1-row filter frame broadcasts and the fact scan drops most rows
    before the shuffle."""
    from arrow_spark.operators.sketches import bloom_build, bloom_might_contain

    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    bloom = bloom_build(o, "o_orderkey", m_bits=8192, k=4)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    guarded = (
        li.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain(F.col("words"), F.col("l_orderkey"), 8192, 4))
        .drop("words")
    )
    return (
        guarded.join(o, guarded.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                F.floor(F.round(F.sum("l_extendedprice"), 2) * 1e6 + F.lit(0.5)) / 1e6
            ).alias("revenue"),
        )
    )


KEY_SKEW_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
), t AS (
  SELECT sum(n) AS tot FROM c
)
SELECT user_id, event_type, n, floor(n / tot * 1e6 + 0.5) / 1e6 AS share
FROM c, t
ORDER BY n DESC, user_id ASC, event_type ASC
LIMIT 10
"""


@query("key_skew_profile", oracle=KEY_SKEW_ORACLE)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the pre-flight skew measurement for a planned (user, event_type)
    shuffle: top-10 heaviest key groups and their row share (share ≫
    1/shuffle-partitions ⇒ salt or AQE-split that key). One count
    shuffle + TakeOrdered (operators/diagnostics.py)."""
    from arrow_spark.operators.diagnostics import key_skew

    return key_skew(
        table(spark, sf_dir, "events"), ["user_id", "event_type"], top=10
    )


# one SQL text, two engines: NOT IN in FILTER context is where ANSI's
# three-valued logic actually bites (Spark's projected NOT IN collapses
# UNKNOWN to FALSE — engine divergence found while building this query —
# but its null-aware anti join in WHERE is exact)
_NOT_IN_BODY = """
SELECT c_custkey,
       c_custkey IN (SELECT o_custkey FROM {orders}
                     WHERE o_totalprice > 400000) AS in_big_buyers,
       (SELECT count(*) FROM {customer}
        WHERE c_custkey NOT IN (SELECT CASE WHEN o_custkey % 997 = 0 THEN NULL
                                            ELSE o_custkey END
                                FROM {orders}
                                WHERE o_totalprice > 400000)) AS n_pass_nullable
FROM {customer}
WHERE c_custkey NOT IN (SELECT o_custkey FROM {orders}
                        WHERE o_totalprice > 450000)
"""


@query(
    "not_in_null_semantics",
    oracle=_NOT_IN_BODY.format(orders="orders", customer="customer"),
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NOT IN as a null-aware anti join: the WHERE-clause NOT IN
    (null-free probe set) keeps true non-members; n_pass_nullable counts
    survivors of a NOT IN whose set contains a planted NULL — zero in
    BOTH engines, because UNKNOWN never satisfies a filter. The same SQL
    text runs on Spark and DuckDB. (Projection-context NOT IN is
    deliberately absent: Spark 4 collapses UNKNOWN→FALSE there, a real
    cross-engine divergence this query documents.)"""
    for t in ("orders", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"ni_{t}")
    return spark.sql(_NOT_IN_BODY.format(orders="ni_orders", customer="ni_customer"))


PNG_DECODE_ORACLE = """
SELECT doc_id AS media_id, 8.0 AS w, 8.0 AS h,
       round((64*(doc_id % 256) + 2016 - 256*GREATEST((doc_id % 256) - 192, 0))
             / 64.0 / 255.0, 6) AS mean_px
FROM documents
"""


@query("multimodal_png_decode", oracle=PNG_DECODE_ORACLE)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: an actual PNG (zlib IDAT, IHDR/IEND
    chunks) is synthesized executor-side per document — an 8×8 grayscale
    gradient px[k] = (doc_id+k) % 256 — then decoded back through the
    registry's pure-stdlib PNG codec (llm/codecs.py: spec scanline
    unfiltering) inside mapInPandas. The oracle checks the decoded pixel
    mean analytically: sum_k (d+k)%256 = 64d + 2016 − 256·max(0, d−192)
    for d = doc_id%256, k<64. No fake decoder anywhere in this path."""
    from arrow_spark.llm.codecs import encode_png
    from arrow_spark.llm.multimodal import attach_binary_meta, extract_features

    d = table(spark, sf_dir, "documents").select("doc_id")
    @F.pandas_udf("binary")
    def enc(ids):  # Arrow-batched synthesis — keeps the whole pipeline off BatchEvalPython
        return ids.map(
            lambda i: encode_png(8, 8, 1, bytes(((int(i) + k) % 256) for k in range(64)))
        )
    media = attach_binary_meta(
        d.select("doc_id", enc("doc_id").alias("payload")),
        "payload",
        mime="image/png",
        id_col="doc_id",
    )
    out = extract_features(media)
    return out.select(
        "media_id",
        F.element_at("features", 1).alias("w"),
        F.element_at("features", 2).alias("h"),
        F.round(F.element_at("features", 8), 6).alias("mean_px"),
    )


WAV_DECODE_ORACLE = """
SELECT doc_id AS media_id,
       round(round((doc_id % 100)/100.0 * 32767) / 32768.0, 6) AS amp
FROM documents
"""


@query("multimodal_wav_decode", oracle=WAV_DECODE_ORACLE)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: a 16-bit PCM WAV of 16 constant
    samples at amplitude (doc_id%100)/100 is written executor-side
    (stdlib wave), then decoded through the registry's WAV codec; the
    oracle reproduces the int16 quantization analytically
    (round(a·32767)/32768). Exercises the full mime→kernel resolution
    with real bytes."""
    from arrow_spark.llm.codecs import encode_wav
    from arrow_spark.llm.multimodal import attach_binary_meta, extract_features

    d = table(spark, sf_dir, "documents").select("doc_id")
    @F.pandas_udf("binary")
    def enc(ids):  # Arrow-batched synthesis, matching the PNG twin
        return ids.map(
            lambda i: encode_wav([(int(i) % 100) / 100.0] * 16, framerate=8000)
        )
    media = attach_binary_meta(
        d.select("doc_id", enc("doc_id").alias("payload")),
        "payload",
        mime="audio/wav",
        id_col="doc_id",
    )
    out = extract_features(media)
    return out.select(
        "media_id",
        F.round(F.element_at("features", 6), 6).alias("amp"),
    )


BLOOM_LOOKUP_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
"""


@query("parquet_bloom_point_lookup", oracle=BLOOM_LOOKUP_ORACLE)
def parquet_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned parquet point lookup (bloom_filter_reader.cc analog):
    a distributed sidecar bloom index over the orders file is tested
    EXECUTOR-side (admitted_candidates — bitmaps never reach the
    driver); only admitted row groups are scanned, with the exact
    predicate re-applied (false positives cost I/O, not correctness).
    The probe key is min(o_orderkey) — one scalar of metadata — so the
    oracle is pure SQL."""
    from arrow_spark.sources.bloom_index import build_bloom_index, footer_min, point_lookup

    path = f"{sf_dir}/orders.parquet"
    # r14: the probe scalar comes from parquet footer statistics (exact
    # for int64) instead of a full scan+agg job — one less pass over
    # orders per lookup; identical value, scan fallback if stats absent.
    probe = footer_min(path, "o_orderkey")
    if probe is None:
        probe = spark.read.parquet(path).agg(F.min("o_orderkey")).collect()[0][0]
    index = build_bloom_index(spark, path, "o_orderkey")
    out = point_lookup(spark, path, "o_orderkey", int(probe), index)
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


FLIGHT_SQL_ORACLE = """
SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY o_orderpriority
"""


@query("flight_sql_statement", oracle=FLIGHT_SQL_ORACLE)
def flight_sql_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommandStatementQuery end to end (flight/sql/server.h analog):
    the engine serves its own SparkSession over Flight SQL on a
    loopback port; the client sends the Any-wrapped statement command,
    gets chunked endpoints back, and each endpoint streams through its
    own Spark task. The server outlives the call (daemon thread) so the
    lazily-evaluated result can DoGet at collect time."""
    from arrow_spark.sources.flight_sql import flight_sql_execute, start_flight_sql_server

    table(spark, sf_dir, "orders").createOrReplaceTempView("flight_sql_orders")
    srv = start_flight_sql_server(spark, rows_per_endpoint=2000)
    return flight_sql_execute(
        spark,
        f"grpc://127.0.0.1:{srv.port}",
        """SELECT o_orderpriority, count(*) AS n,
                  round(sum(o_totalprice), 2) AS sum_price
           FROM flight_sql_orders GROUP BY o_orderpriority""",
    )


PROFILE_ORACLE = """
SELECT 'c_custkey' AS "column", 'bigint' AS dtype,
       count(*) AS n_rows, count(*) - count(c_custkey) AS n_nulls,
       count(DISTINCT c_custkey) AS n_distinct,
       CAST(min(c_custkey) AS DOUBLE) AS min_num,
       CAST(max(c_custkey) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       floor(floor(sum(CAST(c_custkey AS DOUBLE)) * 100 + 0.5) / 100
             / count(c_custkey) * 1e6 + 0.5) / 1e6 AS mean
FROM customer
UNION ALL
SELECT 'c_name', 'string', count(*), count(*) - count(c_name),
       count(DISTINCT c_name), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       min(c_name), max(c_name), CAST(NULL AS DOUBLE)
FROM customer
UNION ALL
SELECT 'c_nationkey', 'int', count(*), count(*) - count(c_nationkey),
       count(DISTINCT c_nationkey),
       CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       floor(floor(sum(CAST(c_nationkey AS DOUBLE)) * 100 + 0.5) / 100
             / count(c_nationkey) * 1e6 + 0.5) / 1e6
FROM customer
UNION ALL
SELECT 'c_acctbal', 'double', count(*), count(*) - count(c_acctbal),
       count(DISTINCT c_acctbal),
       CAST(min(c_acctbal) AS DOUBLE), CAST(max(c_acctbal) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       floor(floor(sum(CAST(c_acctbal AS DOUBLE)) * 100 + 0.5) / 100
             / count(c_acctbal) * 1e6 + 0.5) / 1e6
FROM customer
UNION ALL
SELECT 'c_mktsegment', 'string', count(*), count(*) - count(c_mktsegment),
       count(DISTINCT c_mktsegment), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       min(c_mktsegment), max(c_mktsegment), CAST(NULL AS DOUBLE)
FROM customer
"""


@query("profile_table_stats", oracle=PROFILE_ORACLE)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler over `customer` (operators/profile.py):
    null/distinct/range/mean per column from a single aggregate scan.
    Means are floor-reconstructed decimal sums, so the cross-engine
    hash is exact."""
    from arrow_spark.operators.profile import profile_table

    return profile_table(table(spark, sf_dir, "customer"))


FOOTER_STATS_ORACLE = """
SELECT count(*) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       count(DISTINCT o_orderpriority) AS n_priorities
FROM orders
"""


@query("parquet_footer_stats", oracle=FOOTER_STATS_ORACLE)
def parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table statistics computed from parquet FOOTERS ONLY
    (sources/parquet_meta.py — one task per file, no data pages read),
    hash-checked against an oracle that scans the data: proves the
    distributed footer relation decodes counts and min/max exactly.
    n_priorities comes from a metadata-free scan of the dictionary
    column to keep one data-derived figure beside the footer figures."""
    from arrow_spark.sources.parquet_meta import parquet_metadata

    meta = parquet_metadata(spark, f"{sf_dir}/orders.parquet")
    keys = meta.where(F.col("path_in_schema") == "o_orderkey")
    footer = keys.agg(
        F.sum("num_values").alias("n_rows"),
        F.min(F.col("min_value").cast("long")).alias("min_key"),
        F.max(F.col("max_value").cast("long")).alias("max_key"),
    )
    prios = (
        table(spark, sf_dir, "orders")
        .agg(F.count_distinct("o_orderpriority").alias("n_priorities"))
    )
    return footer.crossJoin(prios)


SCD2_ORACLE = """
WITH s AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type IS NOT DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_type)
              THEN 0 ELSE 1 END AS chg
  FROM events
), r AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM s
), g AS (
  SELECT user_id, any_value(event_type) AS event_type, min(ts) AS valid_from
  FROM r GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_type) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_type) IS NULL AS is_current
FROM g
"""


@query("cdc_scd2_intervals", oracle=SCD2_ORACLE)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type 2 history: fold each user's event
    stream into validity intervals of their event_type state —
    consecutive repeats extend the open interval instead of starting a
    new one, the last state per user is is_current with a null
    valid_to. One entity-keyed shuffle (operators/upsert.py::
    scd2_intervals); the oracle replays the change-flag → run-fold →
    lead() pipeline in SQL."""
    from arrow_spark.operators.upsert import scd2_intervals

    e = table(spark, sf_dir, "events")
    return scd2_intervals(e, "user_id", "ts", ["event_type"])


# rule names sorted alphabetically on both sides (check_rules sorts), so
# the violations lists compare element-for-element; emitted as a
# comma-joined STRING (not array<string>) because the driver's pandas
# canonicalizer cannot sort/hash list-valued columns
QUARANTINE_ORACLE = """
WITH checked AS (
  SELECT l_orderkey, l_linenumber,
         list_filter([
           CASE WHEN NOT coalesce(l_discount <= 0.05, false) THEN 'discount_cap' END,
           CASE WHEN NOT coalesce(l_quantity <= 30, false) THEN 'qty_cap' END,
           CASE WHEN NOT coalesce(l_tax <= 0.04, false) THEN 'tax_cap' END
         ], x -> x IS NOT NULL) AS violations
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       array_to_string(violations, ',') AS violations
FROM checked WHERE len(violations) > 0
"""


@query("quality_quarantine", oracle=QUARANTINE_ORACLE)
def quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row-level data-quality gate (Deequ/dbt-test shape): evaluate a
    named rule set in ONE codegen projection, quarantine violating rows
    WITH the list of rules they broke. The oracle rebuilds the same
    violation lists, so routing and rule attribution are hash-checked
    (comma-joined to a scalar string for the comparator)."""
    from arrow_spark.operators.quality import quarantine_split

    l = table(spark, sf_dir, "lineitem")
    rules = {
        "qty_cap": F.col("l_quantity") <= 30,
        "discount_cap": F.col("l_discount") <= 0.05,
        "tax_cap": F.col("l_tax") <= 0.04,
    }
    _clean, bad = quarantine_split(l, rules)
    return bad.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join("violations", ",").alias("violations"),
    )


QUALITY_SUMMARY_ORACLE = """
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.05, false) THEN 1 ELSE 0 END)
            AS BIGINT) AS discount_cap,
       CAST(sum(CASE WHEN NOT coalesce(l_quantity <= 30, false) THEN 1 ELSE 0 END)
            AS BIGINT) AS qty_cap,
       CAST(sum(CASE WHEN NOT coalesce(l_tax <= 0.04, false) THEN 1 ELSE 0 END)
            AS BIGINT) AS tax_cap
FROM lineitem
"""


@query("quality_rule_summary", oracle=QUALITY_SUMMARY_ORACLE)
def quality_rule_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-rule violation counts in one map-side-combined aggregation
    pass — the data-quality report feeding ingestion dashboards."""
    from arrow_spark.operators.quality import rule_summary

    l = table(spark, sf_dir, "lineitem")
    rules = {
        "qty_cap": F.col("l_quantity") <= 30,
        "discount_cap": F.col("l_discount") <= 0.05,
        "tax_cap": F.col("l_tax") <= 0.04,
    }
    return rule_summary(l, rules)


# inputs are snapped to INTEGERS (hours since 2024-01-01, value cents)
# so the five moment sums are exact and order-independent; both engines
# then run the identical closed-form expression tree on those exact
# integers, making the doubles bit-equal before the 1e-6 rounding
OLS_ORACLE = """
WITH pts AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '2024-01-01', ts) // 3600 AS x,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT user_id, count(*) AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         sum(y * y)::BIGINT AS syy
  FROM pts GROUP BY user_id
), f AS (
  SELECT user_id, n,
         n::DOUBLE * sxx - sx * sx AS det,
         n::DOUBLE * sxy - sx * sy AS cov,
         n::DOUBLE * syy - sy * sy AS tot
  FROM m
)
SELECT f.user_id, f.n AS n_points,
       round(CASE WHEN f.n >= 2 AND det != 0 THEN cov / det END, 6) AS slope,
       round(CASE WHEN f.n >= 2 AND det != 0
             THEN (m.sy - (cov / det) * m.sx) / f.n::DOUBLE END, 6) AS intercept,
       round(CASE WHEN f.n >= 2 AND det != 0 AND tot != 0
             THEN least(greatest(cov * cov / (det * tot), 0.0), 1.0) END, 6) AS r2
FROM f JOIN m USING (user_id)
"""


@query("groupwise_ols_trend", oracle=OLS_ORACLE)
def groupwise_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user value-over-time trend lines: closed-form OLS (slope,
    intercept, r²) from five moment sums in ONE map-side-combined
    aggregation — no iterative fitting, no per-group driver loop.
    Inputs snap to integer hours/cents so the sums are exact and the
    closed form replays bit-equal in the oracle."""
    from arrow_spark.operators.regression import groupwise_ols

    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = F.floor(
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        )
        / 3600
    )
    y = F.round(F.col("value") * 100, 0).cast("long")
    out = groupwise_ols(e.withColumn("__x__", x).withColumn("__y__", y),
                        "__x__", "__y__", keys=["user_id"])
    return out.select(
        "user_id",
        "n_points",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


TABLE_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 97 != 0
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 89 != 0
), j AS (
  SELECT coalesce(new.o_orderkey, old.o_orderkey) AS o_orderkey,
         old.o_orderkey IS NOT NULL AS in_l,
         new.o_orderkey IS NOT NULL AS in_r,
         list_filter([
           CASE WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
                THEN 'o_totalprice' END
         ], x -> x IS NOT NULL) AS ch
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN NOT in_l THEN 'added'
            WHEN NOT in_r THEN 'removed'
            WHEN len(ch) > 0 THEN 'changed'
            ELSE 'unchanged' END AS row_status,
       coalesce(array_to_string(
           CASE WHEN in_l AND in_r THEN ch ELSE [] END, ','),
           '') AS changed_cols
FROM j
"""


@query("table_diff_reconcile", oracle=TABLE_DIFF_ORACLE)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyed snapshot reconciliation: diff a mutated orders snapshot
    (some keys dropped, some repriced) against the original — every key
    classified added/removed/changed/unchanged with the exact columns
    that differ (operators/diffing.py::table_diff: ONE full-outer hash
    join + codegen null-safe comparisons). The migration-validation
    primitive, itself oracle-validated. changed_cols is comma-joined to
    a scalar string: the driver's pandas canonicalizer cannot sort or
    hash list-valued output columns."""
    from arrow_spark.operators.diffing import table_diff

    o = table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    diff = table_diff(old, new, keys=["o_orderkey"])
    return diff.select(
        "o_orderkey",
        "row_status",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


def _corr_pair_sql(a: str, b: str) -> str:
    n = f"count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 END)::DOUBLE"
    # HUGEINT sums -> DOUBLE directly (round-to-nearest, same as Spark's
    # decimal(38) -> double). The former ::BIGINT hop overflowed at sf0.1:
    # sum(price_c^2) ~ 2.2e19 > 2^63 (found by the sf0.1 oracle sweep).
    sx = f"sum(CASE WHEN {b} IS NOT NULL THEN {a} END)::DOUBLE"
    sy = f"sum(CASE WHEN {a} IS NOT NULL THEN {b} END)::DOUBLE"
    sxy = f"sum({a} * {b})::DOUBLE"
    sxx = f"sum(CASE WHEN {b} IS NOT NULL THEN {a} * {a} END)::DOUBLE"
    syy = f"sum(CASE WHEN {a} IS NOT NULL THEN {b} * {b} END)::DOUBLE"
    cov = f"({n} * {sxy} - {sx} * {sy})"
    vx = f"({n} * {sxx} - {sx} * {sx})"
    vy = f"({n} * {syy} - {sy} * {sy})"
    return (
        f"SELECT '{a}' AS col_x, '{b}' AS col_y,\n"
        f"  count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 END) AS n_pairs,\n"
        f"  round(CASE WHEN {vx} > 0 AND {vy} > 0\n"
        f"        THEN {cov} / sqrt({vx} * {vy}) END, 6) AS corr\n"
        f"FROM q"
    )


_CORR_COLS = ["qty_i", "price_c", "disc_m", "tax_m"]

CORR_MATRIX_ORACLE = (
    """WITH q AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty_i,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_m,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_m
  FROM lineitem
)
"""
    + "\nUNION ALL\n".join(
        _corr_pair_sql(a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    )
)


@query("profile_corr_matrix", oracle=CORR_MATRIX_ORACLE)
def profile_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairwise Pearson correlation matrix of four lineitem measures in
    ONE aggregation pass (operators/profile.py::corr_matrix) — inputs
    snapped to integer units so every moment sum is exact and the
    closed form replays bit-equal in the oracle."""
    from arrow_spark.operators.profile import corr_matrix

    l = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty_i"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc_m"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("tax_m"),
    )
    return corr_matrix(l, _CORR_COLS, round_to=6)


MAD_ORACLE = """
WITH base AS (
  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
), med AS (
  SELECT user_id, median(cents) AS med FROM base GROUP BY 1
), dev AS (
  SELECT b.user_id, b.event_id, b.cents, m.med, abs(b.cents - m.med) AS deviation
  FROM base b JOIN med m USING (user_id)
), mad AS (
  SELECT user_id, median(deviation) AS mad FROM dev GROUP BY 1
)
SELECT d.user_id, d.event_id, d.cents, d.med AS median, d.deviation, m.mad,
       d.deviation > (3.0 * 1.4826) * m.mad AS is_outlier
FROM dev d JOIN mad m USING (user_id)
"""


@query("outlier_mad_flags", oracle=MAD_ORACLE)
def outlier_mad_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier flags: |x − median| > 3·1.4826·MAD on
    integer-snapped event values. Median/MAD midpoints are exact dyadics
    so every statistic, threshold product, and flag replays bit-for-bit
    in the DuckDB median-window oracle. Plan: ONE Exchange, two Window
    aggregates — no stats-table join-back (pinned)."""
    from arrow_spark.operators.outliers import mad_outliers

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return mad_outliers(ev, ["user_id"], "cents").select(
        "user_id", "event_id", "cents", "median", "deviation", "mad", "is_outlier"
    )


# Join-size estimation from two portable-hash Count-Min sketches: the
# oracle rebuilds both cell tables, takes per-row inner products, and
# min-reduces — then computes the exact join size the estimate bounds.
# partsupp is the generated table (sources/tpchgen.py), regenerated by
# PS_CTE on the oracle side, same as the tpch_ps.py queries.
from arrow_spark.sources.tpchgen import PS_CTE as _PS_CTE

CMS_JOIN_ORACLE = _PS_CTE + f"""
, la_raw AS (
  {' UNION ALL '.join(f"SELECT {i} AS row, {_slot_sql('l_suppkey', i, 4, 1024)} AS bucket FROM lineitem" for i in range(4))}
), la AS (
  SELECT row, bucket, count(*) AS cnt FROM la_raw GROUP BY 1, 2
), ps_raw AS (
  {' UNION ALL '.join(f"SELECT {i} AS row, {_slot_sql('ps_suppkey', i, 4, 1024)} AS bucket FROM partsupp" for i in range(4))}
), ps AS (
  SELECT row, bucket, count(*) AS cnt FROM ps_raw GROUP BY 1, 2
), dots AS (
  SELECT la.row, sum(la.cnt * ps.cnt) AS dot
  FROM la JOIN ps USING (row, bucket) GROUP BY 1
), alldots AS (
  -- depth rows with zero aligned cells have dot 0 (they drop out of the
  -- inner join); min must still range over them — mirrors the operator
  SELECT coalesce(dot, 0) AS dot
  FROM (SELECT unnest(generate_series(0, 3)) AS row) r LEFT JOIN dots USING (row)
)
SELECT (SELECT min(dot) FROM alldots)::BIGINT AS join_size_est,
       (SELECT count(*) FROM lineitem JOIN partsupp ON l_suppkey = ps_suppkey)::BIGINT
         AS exact_size
"""


@query("sketch_join_cardinality", oracle=CMS_JOIN_ORACLE)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|lineitem ⋈ partsupp| on suppkey estimated from two CMS sketches
    — a genuinely fan-out-on-both-sides join (every supplier appears
    ~80× in partsupp and ~600× in lineitem at sf1 ratios), the case
    where a planner wants the size BEFORE committing to a strategy.
    Portable hash family ⇒ the estimate itself is hash-checked; the
    exact size rides along so the row also proves est ≥ exact."""
    from arrow_spark.operators.sketches import cms_join_cardinality

    from arrow_spark.sources.tpchgen import partsupp

    l = table(spark, sf_dir, "lineitem")
    ps = partsupp(spark, sf_dir)
    est = cms_join_cardinality(l, "l_suppkey", ps, "ps_suppkey",
                               width=1024, depth=4, hash_family="portable")
    exact = l.join(ps, l["l_suppkey"] == ps["ps_suppkey"]).count()
    return est.withColumn("exact_size", F.lit(exact).cast("long"))


QT_ORACLE = """
WITH long AS (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS feature,
         CAST(l_quantity AS DOUBLE) AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice',
         CAST(l_extendedprice AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount',
         CAST(l_discount AS DOUBLE) FROM lineitem
)
SELECT l_orderkey, l_linenumber, feature, value,
       percent_rank() OVER (PARTITION BY feature ORDER BY value) AS q
FROM long
WHERE value IS NOT NULL
"""


@query("feature_quantile_transform", oracle=QT_ORACLE)
def feature_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-CDF normalization of three lineitem features in one
    unpivot + one feature-partitioned window. percent_rank's integer
    ratio makes every q hash-exact; ties (l_quantity has ~50 distinct
    values) share ranks identically on both engines."""
    from arrow_spark.operators.quantile_transform import quantile_transform

    l = table(spark, sf_dir, "lineitem")
    return quantile_transform(
        l, ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


IVM_ORACLE = """
SELECT o_orderkey, o_custkey, c_name, round(o_totalprice, 2) AS o_totalprice,
       c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@query("incremental_join_refresh", oracle=IVM_ORACLE)
def incremental_join_refresh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join IVM delta rule: the orders⋈customer view is materialized
    from 90% of each input, then refreshed with the held-out 10% deltas
    — old ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, deltas broadcast. The oracle is the
    full join of the complete tables, so the hash match proves the
    delta algebra is exact (refresh ≡ recompute)."""
    from arrow_spark.operators.ivm import incremental_join_refresh

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    o_old, o_new = o.where("o_orderkey % 10 != 0"), o.where("o_orderkey % 10 = 0")
    c_old, c_new = c.where("c_custkey % 10 != 0"), c.where("c_custkey % 10 = 0")
    base = o_old.withColumnRenamed("o_custkey", "k").join(
        c_old.withColumnRenamed("c_custkey", "k"), "k"
    )
    out = incremental_join_refresh(
        base,
        o_old.withColumnRenamed("o_custkey", "k"),
        c_old.withColumnRenamed("c_custkey", "k"),
        o_new.withColumnRenamed("o_custkey", "k"),
        c_new.withColumnRenamed("c_custkey", "k"),
        on=["k"],
    )
    return out.select(
        "o_orderkey", F.col("k").alias("o_custkey"), "c_name",
        "o_totalprice", "c_mktsegment",
    )


def _hilbert_oracle(bits: int = 16) -> str:
    """DuckDB twin of operators/layout.py::hilbert_value: the rotate/
    flip recursion unrolled as one chained-CTE projection per level
    (columns re-materialize each step, so growth is linear, unlike a
    nested expression)."""
    steps = ["""h0 AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_partkey % 65536 AS BIGINT) AS x,
         CAST(l_suppkey % 65536 AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d
  FROM lineitem
)"""]
    for k in range(bits):
        s = 1 << (bits - 1 - k)
        steps.append(f"""h{k + 1} AS (
  SELECT l_orderkey, l_linenumber,
    CASE WHEN (y & {s}) = 0
         THEN (CASE WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END)
         ELSE x END AS x,
    CASE WHEN (y & {s}) = 0
         THEN (CASE WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END)
         ELSE y END AS y,
    d + CAST({s * s} AS BIGINT)
          * xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),
                CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END) AS d
  FROM h{k})""")
    return (
        "WITH " + ",\n".join(steps)
        + f"\nSELECT l_orderkey, l_linenumber, d AS hval FROM h{bits}"
    )


HILBERT_ORACLE = _hilbert_oracle()


@query("layout_hilbert", oracle=HILBERT_ORACLE)
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Hilbert curve values over (l_partkey, l_suppkey) — the
    tighter-bounding-box upgrade over layout_zorder (no Morton seams);
    hilbert_by range-partitions on this key. Exact integer recursion —
    the vectorized numpy path (2.2× the in-row fold) produces IDENTICAL
    integers to the JVM fold, so the 16-step CTE replay hash-checks
    either; the JVM path is equality-pinned in tests."""
    from arrow_spark.operators.layout import hilbert_value_np

    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        hilbert_value_np(
            F.pmod(F.col("l_partkey"), F.lit(65536)),
            F.pmod(F.col("l_suppkey"), F.lit(65536)),
        ).alias("hval"),
    )


TTEST_ORACLE = """
WITH m AS (
  SELECT grp, CAST(count(cents) AS BIGINT) AS n,
         sum(cents)::DOUBLE AS sx, sum(cents * cents)::DOUBLE AS sxx
  FROM (SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events)
  GROUP BY 1
), d AS (
  SELECT grp, n, sx / n AS mean,
         CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1.0) END AS var
  FROM m
), b AS (
  SELECT n AS b_n, mean AS b_mean, var AS b_var FROM d WHERE grp = 'view'
), t AS (
  SELECT d.grp, d.n, d.mean, d.var,
         CASE WHEN d.n > 1 AND b.b_n > 1
              THEN (d.mean - b.b_mean) / sqrt(d.var / d.n + b.b_var / b.b_n)
         END AS t_stat
  FROM d, b WHERE d.grp != 'view'
)
SELECT grp AS event_type, n, mean, var, t_stat,
       CASE WHEN t_stat IS NOT NULL THEN abs(t_stat) > 1.96 END AS significant
FROM t
"""


@query("experiment_welch_ttest", oracle=TTEST_ORACLE)
def experiment_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t for every event_type's cent-snapped value vs the 'view'
    baseline — exact decimal moment sums, one double conversion, fixed
    IEEE algebra: statistics and significance flags are hash-exact."""
    from arrow_spark.operators.abtest import welch_ttest

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return welch_ttest(ev, "event_type", "cents", baseline="view")


SEASONAL_ORACLE = """
WITH base AS (
  SELECT event_type, event_id, CAST(hour(ts) AS BIGINT) AS season,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), b AS (
  SELECT event_type, season, median(cents) AS baseline
  FROM base GROUP BY 1, 2
), r AS (
  SELECT base.event_type, base.event_id, base.cents, b.baseline,
         base.cents - b.baseline AS residual
  FROM base JOIN b USING (event_type, season)
), mr AS (
  SELECT event_type, median(residual) AS med_r FROM r GROUP BY 1
), d AS (
  SELECT r.*, abs(r.residual - mr.med_r) AS dev
  FROM r JOIN mr USING (event_type)
), md AS (
  SELECT event_type, median(dev) AS res_mad FROM d GROUP BY 1
)
SELECT d.event_type, d.event_id, d.cents, d.baseline, d.residual, md.res_mad,
       d.dev > (3.0 * 1.4826) * md.res_mad AS season_flag
FROM d JOIN md USING (event_type)
"""


@query("seasonal_anomaly_flags", oracle=SEASONAL_ORACLE)
def seasonal_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hour-of-day seasonal baseline (median per type×hour) removed,
    then Hampel flags on the residuals per event type — the detector
    that ignores daily rhythm. Dyadic-grid medians on cents ⇒ every
    baseline, residual, and flag hash-exact."""
    from arrow_spark.operators.outliers import seasonal_residuals

    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.hour("ts").cast("long").alias("season"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = seasonal_residuals(ev, ["event_type"], "season", "cents")
    return out.select(
        "event_type", "event_id", "cents", "baseline", "residual",
        "res_mad", "season_flag",
    )


def _sliding_hll_oracle(p: int = 9, max_rank: int = 40) -> str:
    """Sliding-window distinct counts: the oracle builds each 2h
    window's registers DIRECTLY over its raw rows, while the Spark path
    max-merges per-hour sketches — the hash match proves the TEMPORAL
    merge law (sketch of union ≡ merge of sketches) that makes sliding
    distinct-count windows O(buckets·2^p) state instead of re-scanning
    overlapping data."""
    from arrow_spark.operators.sketches import hll_alpha

    m = 1 << p
    w = 60 - p
    alpha_c = hll_alpha(m) * float(m * m * (1 << max_rank))
    return f"""
WITH e AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb, user_id FROM events
), wins AS (
  SELECT DISTINCT w FROM (SELECT hb AS w FROM e UNION ALL SELECT hb - 1 AS w FROM e)
), we AS (
  SELECT wins.w, e.user_id FROM wins JOIN e ON e.hb IN (wins.w, wins.w + 1)
), h AS (
  SELECT w, {_portable_sql('user_id', 0)} AS h FROM we
), br AS (
  SELECT w, h >> {w} AS bucket,
         least(CASE WHEN (h & {(1 << w) - 1}) = 0 THEN {w + 1}
               ELSE {w} - length(bin(h & {(1 << w) - 1})) + 1 END,
               {max_rank}) AS rank
  FROM h
), regs AS (
  SELECT w, bucket, max(rank) AS rank FROM br GROUP BY 1, 2
), agg AS (
  SELECT w, count(*) AS present,
         sum(1::BIGINT << ({max_rank} - rank)::INT)::BIGINT AS s_present
  FROM regs GROUP BY 1
), est AS (
  SELECT w, ({m} - present)::BIGINT AS zero_registers,
         (s_present + ({m} - present) * {1 << max_rank})::BIGINT AS harmonic_scaled,
         {alpha_c!r} / (s_present + ({m} - present) * {1 << max_rank})::DOUBLE AS raw
  FROM agg
), ex AS (
  SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM we GROUP BY 1
)
SELECT est.w, zero_registers, harmonic_scaled,
       floor((CASE WHEN raw <= {2.5 * m!r} AND zero_registers > 0
              THEN {float(m)!r} * ln({float(m)!r} / zero_registers::DOUBLE)
              ELSE raw END) * 1e4 + 0.5) / 1e4 AS approx_distinct,
       exact_distinct
FROM est JOIN ex USING (w)
"""


@query("sketch_sliding_distinct", oracle=_sliding_hll_oracle())
def sketch_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct users per 2-hour SLIDING window via mergeable relational
    HLL: per-hour register frames are built once and every window is a
    positionwise max of two of them — state ∝ buckets·2^p, overlapping
    raw data never re-scanned (the streaming distinct-count pattern).
    The oracle builds each window directly, so the hash match proves
    the temporal merge law; exact counts ride along."""
    from arrow_spark.operators.sketches import (
        hll_rel_build,
        hll_rel_estimate,
        hll_rel_merge,
    )

    ev = table(spark, sf_dir, "events").select(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hb"), "user_id"
    )
    regs = hll_rel_build(ev, "user_id", keys=["hb"], p=9)
    slid = regs.select(F.col("hb").alias("w"), "bucket", "rank").unionByName(
        regs.select((F.col("hb") - 1).alias("w"), "bucket", "rank")
    )
    est = hll_rel_estimate(hll_rel_merge(slid, keys=["w"]), keys=["w"], p=9)
    dup = ev.select(F.col("hb").alias("w"), "user_id").unionByName(
        ev.select((F.col("hb") - 1).alias("w"), "user_id")
    )
    exact = dup.groupBy("w").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "w")


def _hll_intersect_oracle(p: int = 9, max_rank: int = 40) -> str:
    """Inclusion-exclusion over three register estimates: |A∩B| ≈
    est(A) + est(B) − est(A∪B), where est(A∪B) comes from max-merging
    A's and B's registers — the sketch set-algebra that answers
    audience-overlap questions without a join. All three estimates and
    the final fixed-order arithmetic replay exactly."""
    from arrow_spark.operators.sketches import hll_alpha

    m = 1 << p
    w = 60 - p
    alpha_c = hll_alpha(m) * float(m * m * (1 << max_rank))
    est = (
        "floor((CASE WHEN raw <= {lim!r} AND zr > 0 "
        "THEN {fm!r} * ln({fm!r} / zr::DOUBLE) ELSE raw END) * 1e4 + 0.5) / 1e4"
    ).format(lim=2.5 * m, fm=float(m))
    return f"""
WITH e AS (
  SELECT event_type, user_id, {_portable_sql('user_id', 0)} AS h
  FROM events WHERE event_type IN ('click', 'purchase')
), br AS (
  SELECT event_type, h >> {w} AS bucket,
         least(CASE WHEN (h & {(1 << w) - 1}) = 0 THEN {w + 1}
               ELSE {w} - length(bin(h & {(1 << w) - 1})) + 1 END,
               {max_rank}) AS rank
  FROM e
), regs AS (
  SELECT event_type, bucket, max(rank) AS rank FROM br GROUP BY 1, 2
), uregs AS (
  SELECT bucket, max(rank) AS rank FROM regs GROUP BY 1
), sides AS (
  SELECT event_type AS side, bucket, rank FROM regs
  UNION ALL SELECT 'union', bucket, rank FROM uregs
), agg AS (
  SELECT side, count(*) AS present,
         sum(1::BIGINT << ({max_rank} - rank)::INT)::BIGINT AS s_present
  FROM sides GROUP BY 1
), ests AS (
  SELECT side, zr, raw, {est} AS est FROM (
    SELECT side, ({m} - present)::BIGINT AS zr,
           {alpha_c!r} / (s_present + ({m} - present) * {1 << max_rank})::DOUBLE AS raw
    FROM agg)
), piv AS (
  SELECT max(CASE WHEN side = 'click' THEN est END) AS est_a,
         max(CASE WHEN side = 'purchase' THEN est END) AS est_b,
         max(CASE WHEN side = 'union' THEN est END) AS est_union
  FROM ests
), exact AS (
  SELECT CAST(count(DISTINCT a.user_id) AS BIGINT) AS exact_intersection
  FROM (SELECT DISTINCT user_id FROM e WHERE event_type = 'click') a
  JOIN (SELECT DISTINCT user_id FROM e WHERE event_type = 'purchase') b
    ON a.user_id = b.user_id
)
SELECT est_a, est_b, est_union, est_a + est_b - est_union AS est_intersection,
       exact_intersection
FROM piv, exact
"""


@query("sketch_hll_intersection", oracle=_hll_intersect_oracle())
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audience overlap WITHOUT a join: distinct clickers ∩ purchasers
    estimated by inclusion-exclusion over relational-HLL registers (the
    union sketch is a positionwise max-merge); exact intersection rides
    along. Every register, estimate, and the final fixed-order
    subtraction replays hash-exact."""
    from arrow_spark.operators.sketches import (
        hll_rel_build,
        hll_rel_estimate,
        hll_rel_merge,
    )

    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    ).select("event_type", "user_id")
    regs = hll_rel_build(ev, "user_id", keys=["event_type"], p=9)
    uregs = hll_rel_merge(regs, keys=[])
    per_side = hll_rel_estimate(regs, keys=["event_type"], p=9)
    union_est = hll_rel_estimate(uregs, keys=[], p=9)
    a = per_side.where(F.col("event_type") == "click").select(
        F.col("approx_distinct").alias("est_a")
    )
    b = per_side.where(F.col("event_type") == "purchase").select(
        F.col("approx_distinct").alias("est_b")
    )
    u = union_est.select(F.col("approx_distinct").alias("est_union"))
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = clickers.join(buyers, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_intersection")
    )
    return (
        a.crossJoin(b).crossJoin(u).crossJoin(exact)
        .withColumn("est_intersection", F.col("est_a") + F.col("est_b") - F.col("est_union"))
        .select("est_a", "est_b", "est_union", "est_intersection", "exact_intersection")
    )


SKYLINE_ORACLE = _PS_CTE + """
, offers AS (
  SELECT p.p_brand, ps.ps_partkey, ps.ps_suppkey,
         CAST(round(ps.ps_supplycost * 100) AS BIGINT) AS cost_cents,
         CAST(ps.ps_availqty AS BIGINT) AS availqty
  FROM partsupp ps JOIN part p ON ps.ps_partkey = p.p_partkey
)
SELECT p_brand, ps_partkey, ps_suppkey, cost_cents, availqty
FROM offers a
WHERE NOT EXISTS (
  SELECT 1 FROM offers b
  WHERE b.p_brand = a.p_brand
    AND b.cost_cents <= a.cost_cents AND b.availqty >= a.availqty
    AND (b.cost_cents < a.cost_cents OR b.availqty > a.availqty)
)
"""


@query("skyline_pareto_offers", oracle=SKYLINE_ORACLE)
def skyline_pareto_offers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto front of supplier offers: minimize supply cost,
    maximize available quantity (Börzsönyi et al. 2001 skyline). The
    engine runs the 2-D window algebra (ONE group Exchange, two shared
    windows, no self-join); the oracle is the naive NOT EXISTS dominance
    test — genuinely different algebra, so the hash match proves the
    window form drops and keeps exactly the textbook front."""
    from arrow_spark.operators.skyline import skyline_2d
    from arrow_spark.sources.tpchgen import partsupp

    ps = partsupp(spark, sf_dir)
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    offers = ps.join(p, ps["ps_partkey"] == p["p_partkey"]).select(
        "p_brand",
        "ps_partkey",
        "ps_suppkey",
        F.round(F.col("ps_supplycost") * 100).cast("long").alias("cost_cents"),
        F.col("ps_availqty").cast("long").alias("availqty"),
    )
    return skyline_2d(
        offers, ["p_brand"], F.col("cost_cents"), F.col("availqty")
    )


BOOTSTRAP_CI_ORACLE = """
WITH base AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), reps AS (
  SELECT event_type, event_id, cents, b
  FROM base CROSS JOIN (SELECT unnest(range(0, 40)) AS b)
), wtab AS (
  SELECT event_type, b, cents,
         (CASE WHEN h >= 424136118829305344 THEN 1 ELSE 0 END
        + CASE WHEN h >= 848272237658610688 THEN 1 ELSE 0 END
        + CASE WHEN h >= 1060340297073263360 THEN 1 ELSE 0 END
        + CASE WHEN h >= 1131029650211480960 THEN 1 ELSE 0 END
        + CASE WHEN h >= 1148701988496035328 THEN 1 ELSE 0 END) AS w
  FROM (
    SELECT event_type, b, cents,
           ('0x' || substr(md5('0:' || CAST(event_id AS VARCHAR) || ':'
                                || CAST(b AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM reps
  )
), cells AS (
  SELECT event_type, b, sum(w * cents) AS wv, sum(w) AS wt
  FROM wtab GROUP BY 1, 2
), means AS (
  SELECT event_type, CAST(wv AS DOUBLE) / CAST(wt AS DOUBLE) AS m
  FROM cells WHERE wt > 0
), arr AS (
  SELECT event_type, list_sort(list(m)) AS ms FROM means GROUP BY 1
), pt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
  FROM base GROUP BY 1
)
SELECT pt.event_type, pt.n, pt.mean,
       ms[greatest((len(ms) * 25 + 999) // 1000, 1)] AS ci_lo,
       ms[greatest((len(ms) * 975 + 999) // 1000, 1)] AS ci_hi
FROM pt JOIN arr ON pt.event_type = arr.event_type
"""


@query("experiment_bootstrap_ci", oracle=BOOTSTRAP_CI_ORACLE)
def experiment_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic Poisson-bootstrap 95% CI of mean cents per event
    type (operators/abtest.py::bootstrap_mean_ci) — per-(row,replicate)
    Poisson(1) weights drawn by comparing the PORTABLE 60-bit hash
    against precomputed integer CDF breakpoints (no RNG, no exp at
    runtime), replicate means exact integer-weighted sums + one
    division, nearest-rank interval via integer ceil — the whole
    uncertainty estimate is value-hash verifiable, which no RNG
    bootstrap can be. 40 replicates; map-side combine keeps the shuffle
    at |groups|·40 cells regardless of corpus size."""
    from arrow_spark.operators.abtest import bootstrap_mean_ci

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return bootstrap_mean_ci(
        ev, ["event_type"], "event_id", "cents", n_reps=40
    )


ATTRIBUTION_ORACLE = """
WITH conv AS (
  SELECT user_id, event_id AS cid, CAST(floor(epoch(ts)) AS BIGINT) AS ct,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tt, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
), pairs AS (
  SELECT conv.cid, conv.cents, touch.channel
  FROM conv JOIN touch ON conv.user_id = touch.user_id
  WHERE touch.tt < conv.ct AND touch.tt >= conv.ct - 86400
), split AS (
  SELECT channel,
         CAST(floor(CAST(cents AS DOUBLE) * 1e6
                    / CAST(count(*) OVER (PARTITION BY cid) AS DOUBLE)
                    + 0.5) AS BIGINT) AS credit
  FROM pairs
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit) AS BIGINT) AS credited_micros,
       CAST(sum(credit) AS DOUBLE) / 1e6 AS credited_value
FROM split GROUP BY channel
"""


@query("attribution_linear_touch", oracle=ATTRIBUTION_ORACLE)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linear multi-touch attribution: each purchase's cents split
    equally across the user's click/view touches in the preceding 24 h
    (operators/attribution.py) — ONE user-keyed equi-join with a
    residual window predicate (co-located under user bucketing at
    scale), per-conversion count window, credits snapped to micros
    BEFORE the channel sum so the report is an exact integer aggregate
    + one closing division."""
    from arrow_spark.operators.attribution import linear_attribution

    ev = table(spark, sf_dir, "events")
    epoch = F.floor(F.unix_timestamp("ts")).cast("long")
    conv = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("cid"),
        epoch.alias("ct"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touch = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", epoch.alias("tt"), F.col("event_type").alias("channel")
    )
    return linear_attribution(
        conv, touch,
        user_col="user_id", conv_id="cid", conv_time="ct", value_col="cents",
        touch_time="tt", channel_col="channel", window_seconds=86400,
    )


GINI_ORACLE = """
WITH spend AS (
  SELECT c.c_nationkey AS nation,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_custkey
), ranked AS (
  SELECT nation, x,
         row_number() OVER (PARTITION BY nation ORDER BY x) AS r
  FROM spend
), agg AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS total,
         sum(2 * r * x) AS rx2
  FROM ranked GROUP BY nation
)
SELECT nation, n, total,
       CASE WHEN n >= 2 AND total > 0 THEN
         CAST(rx2 - (n + 1) * total AS DOUBLE) / CAST(n * total AS DOUBLE)
       END AS gini
FROM agg
"""


@query("analytics_gini_spend", oracle=GINI_ORACLE)
def analytics_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-nation Gini coefficient of customer spend — inequality of a
    numeric distribution, the complement of the categorical
    concentration monitors (Simpson, TV drift). Rank-form Gini: the
    coefficient sum is tie-invariant so no cross-engine tie-break is
    needed; decimal integer sums + ONE division ⇒ hash-exact
    (operators/inequality.py::gini). The rank window runs over the
    already-aggregated holders table (one row per customer)."""
    from arrow_spark.operators.inequality import gini

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return gini(spend, ["nation"], "x")


BENFORD_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS grp,
         CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
), cells AS (
  SELECT grp, digit, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), totals AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1
), pm AS (
  SELECT cells.grp, cells.c, totals.n,
         CASE cells.digit
           WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
           WHEN 4 THEN 96910  WHEN 5 THEN 79181  WHEN 6 THEN 66947
           WHEN 7 THEN 57992  WHEN 8 THEN 51153  WHEN 9 THEN 45757
         END AS p
  FROM cells JOIN totals ON cells.grp = totals.grp
), agg AS (
  SELECT grp, n,
         sum(abs(c * 1000000 - p * n)) AS present_num,
         CAST(sum(p) AS BIGINT) AS p_present
  FROM pm GROUP BY grp, n
)
SELECT grp AS l_returnflag, n,
       CAST(present_num + (1000000 - p_present) * n AS DOUBLE)
         / CAST(2 * n * 1000000 AS DOUBLE) AS benford_tv
FROM agg
"""


@query("quality_benford_check", oracle=BENFORD_ORACLE)
def quality_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-digit Benford conformity of extended-price cents per
    return flag — the bulk-numeric fraud/unit-mangling smoke test.
    First digits come from the integer's DECIMAL STRING (no log10 —
    engine-specific last-ulp behavior); the TV numerator is all-integer
    with absent digits recovered from the constant mass table
    (operators/inequality.py::benford_deviation), hash-exact with one
    division."""
    from arrow_spark.operators.inequality import benford_deviation

    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return benford_deviation(l, ["l_returnflag"], "cents")


ASSOC_RULES_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), totals AS (
  SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM baskets
), items AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM baskets GROUP BY 1
), pairs AS (
  SELECT a.i AS item_x, c.i AS item_y, CAST(count(*) AS BIGINT) AS n_xy
  FROM baskets a JOIN baskets c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT item_x, item_y, nx.n_i AS n_x, ny.n_i AS n_y, n_xy,
       CAST(n_xy AS DOUBLE) / CAST(totals.n AS DOUBLE) AS support,
       CAST(n_xy AS DOUBLE) / CAST(nx.n_i AS DOUBLE) AS confidence_xy,
       CAST(n_xy AS DOUBLE) / CAST(ny.n_i AS DOUBLE) AS confidence_yx,
       CAST(totals.n * n_xy AS DOUBLE)
         / CAST(nx.n_i * ny.n_i AS DOUBLE) AS lift
FROM pairs
JOIN items nx ON pairs.item_x = nx.i
JOIN items ny ON pairs.item_y = ny.i, totals
"""


@query("analytics_association_rules", oracle=ASSOC_RULES_ORACLE)
def analytics_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """market-basket pair mining over order baskets: support /
    confidence / lift for parts co-purchased in ≥2 orders — ONE
    within-basket self-join (cost bounded by basket size, never a table
    cross), broadcast item dimension, single-division statistics
    (lift = n·c_xy/(c_x·c_y), one division not three) ⇒ hash-exact
    (operators/association.py)."""
    from arrow_spark.operators.association import association_rules

    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_rules(l, "l_orderkey", "l_partkey", min_pair_count=2)


RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS c_id,
         CAST(floor((1735689600 - floor(epoch(max(o_orderdate)))) / 86400)
              AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS f_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
  FROM orders GROUP BY 1
), long AS (
  SELECT c_id AS id, 'r' AS metric, r_days AS value FROM cust
  UNION ALL SELECT c_id, 'f', f_orders FROM cust
  UNION ALL SELECT c_id, 'm', m_cents FROM cust
), scored AS (
  SELECT id, metric, value,
         ntile(5) OVER (PARTITION BY metric
                        ORDER BY CASE WHEN metric = 'r' THEN -value
                                      ELSE value END ASC, id ASC) AS score
  FROM long
), piv AS (
  SELECT id,
         max(CASE WHEN metric = 'r' THEN value END) AS r,
         max(CASE WHEN metric = 'f' THEN value END) AS f,
         max(CASE WHEN metric = 'm' THEN value END) AS m,
         max(CASE WHEN metric = 'r' THEN score END) AS r_score,
         max(CASE WHEN metric = 'f' THEN score END) AS f_score,
         max(CASE WHEN metric = 'm' THEN score END) AS m_score
  FROM scored GROUP BY id
)
SELECT id AS c_id, r, f, m,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       'R' || r_score::VARCHAR || 'F' || f_score::VARCHAR
           || 'M' || m_score::VARCHAR AS segment
FROM piv
"""


@query("analytics_rfm_segments", oracle=RFM_ORACLE)
def analytics_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM lifecycle segmentation of customers from their orders —
    quintile scores over three METRIC-PARTITIONED ntile windows (the
    quantile_transform unpivot trick; id tie-breaks make tiles
    deterministic and SQL-standard remainder rules match cross-engine
    ⇒ hash-exact), concatenated into the classic segment label
    (operators/cohorts.py::rfm_scores). Swap the exact rank for the
    binned GK path at corpus scale — same contract as
    quantile_transform's exact/binned pair."""
    from arrow_spark.operators.cohorts import rfm_scores

    o = table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("c_id")).agg(
        F.floor(
            (F.lit(1735689600) - F.floor(F.unix_timestamp(F.max("o_orderdate"))))
            / 86400
        )
        .cast("long")
        .alias("r_days"),
        F.count(F.lit(1)).cast("long").alias("f_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m_cents"),
    )
    return rfm_scores(cust, "c_id", "r_days", "f_orders", "m_cents")


RADIUS_JOIN_ORACLE = """
WITH cust AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5('1:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS x,
         ('0x' || substr(md5('2:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS y
  FROM customer WHERE c_custkey % 10 = 0
), supp AS (
  SELECT s_suppkey AS id,
         ('0x' || substr(md5('1:' || CAST(s_suppkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS x,
         ('0x' || substr(md5('2:' || CAST(s_suppkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS y
  FROM supplier
)
SELECT c.id AS lid, s.id AS rid,
       CAST((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS BIGINT)
         AS dist2
FROM cust c, supp s
WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
      <= 100000::BIGINT * 100000
"""


@query("spatial_radius_join", oracle=RADIUS_JOIN_ORACLE)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customers within 100 km of suppliers on a synthetic 1000 km
    plane (coordinates = portable-hash meters, so the oracle replays
    them exactly) — grid-cell bucketing with a 9-cell probe explode +
    ALL-INTEGER dx²+dy² ≤ r² verification: the spatial sibling of
    banded LSH, with a geometric (not probabilistic) losslessness
    guarantee (operators/spatial.py). Oracle = the UNBLOCKED all-pairs
    distance join — the hash match proves the grid drops nothing. No
    sqrt, no trig, nothing engine-specific anywhere."""
    from arrow_spark.functions.portable_hash import portable_hash64
    from arrow_spark.operators.spatial import radius_join

    def pts(df, key):
        sid = F.col(key).cast("string")
        return df.select(
            F.col(key).alias("id"),
            (portable_hash64(sid, 1) % 1_000_000).alias("x"),
            (portable_hash64(sid, 2) % 1_000_000).alias("y"),
        )

    cust = pts(
        table(spark, sf_dir, "customer").where(F.col("c_custkey") % 10 == 0),
        "c_custkey",
    )
    supp = pts(table(spark, sf_dir, "supplier"), "s_suppkey")
    return radius_join(cust, supp, "id", "id", radius=100_000)


DBSCAN_ORACLE = """
WITH RECURSIVE pts AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5('1:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS x,
         ('0x' || substr(md5('2:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS y
  FROM customer WHERE c_custkey % 10 = 0
), pairs AS (
  SELECT a.id AS lid, b.id AS rid
  FROM pts a, pts b
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= 60000::BIGINT * 60000
), core AS (
  SELECT lid AS id FROM pairs GROUP BY lid HAVING count(*) >= 3
), ce AS (
  SELECT lid AS a, rid AS b FROM pairs
  WHERE lid < rid AND lid IN (SELECT id FROM core)
                  AND rid IN (SELECT id FROM core)
  UNION
  SELECT rid, lid FROM pairs
  WHERE lid < rid AND lid IN (SELECT id FROM core)
                  AND rid IN (SELECT id FROM core)
), reach(v, r) AS (
  SELECT a, b FROM ce
  UNION
  SELECT reach.v, ce.b FROM reach JOIN ce ON reach.r = ce.a
), comp AS (
  SELECT v, least(min(r), v) AS c FROM reach GROUP BY v
), core_lbl AS (
  SELECT core.id, coalesce(comp.c, core.id) AS cluster
  FROM core LEFT JOIN comp ON core.id = comp.v
), border_lbl AS (
  SELECT pairs.lid AS id, min(core_lbl.cluster) AS cluster
  FROM pairs JOIN core_lbl ON pairs.rid = core_lbl.id
  WHERE pairs.lid NOT IN (SELECT id FROM core)
  GROUP BY pairs.lid
)
SELECT pts.id,
       CASE WHEN core_lbl.id IS NOT NULL THEN 'core'
            WHEN border_lbl.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(core_lbl.cluster, border_lbl.cluster) AS cluster
FROM pts
LEFT JOIN core_lbl ON pts.id = core_lbl.id
LEFT JOIN border_lbl ON pts.id = border_lbl.id
"""


@query("spatial_dbscan", oracle=DBSCAN_ORACLE)
def spatial_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic DBSCAN over the portable-hash customer plane
    (ε = 60 km, min_pts = 3): ε-neighborhoods from the grid-blocked
    radius self-join, core-graph closure from min-label connected
    components, border points assigned their smallest neighboring
    core's cluster — density clustering COMPOSED from two verified
    primitives (operators/spatial.py::dbscan); all-integer distances +
    min-label closure make the whole clustering hash-exact vs the
    recursive-CTE oracle."""
    from arrow_spark.functions.portable_hash import portable_hash64
    from arrow_spark.operators.spatial import dbscan

    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") % 10 == 0)
    sid = F.col("c_custkey").cast("string")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (portable_hash64(sid, 1) % 1_000_000).alias("x"),
        (portable_hash64(sid, 2) % 1_000_000).alias("y"),
    )
    # max_iter bounds the closure at the giant component's hop diameter
    # (≈ plane diagonal / eps ≈ 24 at sf0.1 — the loop exits early once
    # its edge set is a star forest, so small scales don't pay for the
    # headroom)
    return dbscan(pts, "id", eps=60_000, min_pts=3, max_iter=64)


AGG_IVM_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE (o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0) OR o_orderkey % 7 = 0
GROUP BY 1
"""


@query("incremental_agg_refresh", oracle=AGG_IVM_ORACLE)
def incremental_agg_refresh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate IVM under insertions AND retractions: the materialized
    per-priority (n, cents) state is refreshed from a delta of +1/−1
    multiplicity rows — delta aggregates map-side to touched-group
    cells, one group-keyed full-outer merge, zero-count groups drop
    out; the old base is never rescanned (operators/ivm.py::
    incremental_agg_refresh — the aggregate half of the IVM pair). The
    oracle RECOMPUTES from scratch: the hash match proves refresh ≡
    recompute, retractions included."""
    from arrow_spark.operators.ivm import incremental_agg_refresh

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = o.where(F.col("o_orderkey") % 7 != 0)
    old = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )
    retract = base.where(F.col("o_orderkey") % 13 == 0).select(
        "o_orderpriority", "cents", F.lit(-1).alias("m")
    )
    insert = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderpriority", "cents", F.lit(1).alias("m")
    )
    delta = retract.unionAll(insert)
    return incremental_agg_refresh(
        old, delta, ["o_orderpriority"], ["cents"]
    )


KNN_JOIN_ORACLE = """
WITH cust AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5('1:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS x,
         ('0x' || substr(md5('2:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS y
  FROM customer WHERE c_custkey % 10 = 0
), supp AS (
  SELECT s_suppkey AS id,
         ('0x' || substr(md5('1:' || CAST(s_suppkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS x,
         ('0x' || substr(md5('2:' || CAST(s_suppkey AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS y
  FROM supplier
), cand AS (
  SELECT c.id AS lid, s.id AS rid,
         CAST((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS BIGINT)
           AS dist2
  FROM cust c, supp s
  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
        <= 200000::BIGINT * 200000
), ranked AS (
  SELECT lid, rid, dist2,
         CAST(row_number() OVER (PARTITION BY lid
                                 ORDER BY dist2 ASC, rid ASC) AS INT) AS rank
  FROM cand
)
SELECT lid, rid, dist2, rank FROM ranked WHERE rank <= 3
"""


@query("spatial_knn_join", oracle=KNN_JOIN_ORACLE)
def spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 nearest suppliers within 200 km of each sampled customer —
    grid-blocked candidates + one lid-keyed rank window with a
    deterministic (dist2, rid) tie-break (operators/spatial.py::
    knn_join; the bounded-kNN contract every production spatial index
    exposes — no data-dependent ring expansion). Oracle = UNBLOCKED
    all-pairs ranking; all-integer distances ⇒ hash-exact."""
    from arrow_spark.functions.portable_hash import portable_hash64
    from arrow_spark.operators.spatial import knn_join

    def pts(df, key):
        sid = F.col(key).cast("string")
        return df.select(
            F.col(key).alias("id"),
            (portable_hash64(sid, 1) % 1_000_000).alias("x"),
            (portable_hash64(sid, 2) % 1_000_000).alias("y"),
        )

    cust = pts(
        table(spark, sf_dir, "customer").where(F.col("c_custkey") % 10 == 0),
        "c_custkey",
    )
    supp = pts(table(spark, sf_dir, "supplier"), "s_suppkey")
    return knn_join(cust, supp, "id", "id", k=3, radius_cap=200_000)


TOP_PATHS_ORACLE = """
WITH seqs AS (
  SELECT user_id,
         list(CAST(json_extract(props, '$.k') AS INT)
              ORDER BY event_id) AS seq
  FROM events GROUP BY user_id
), paths AS (
  SELECT unnest(list_transform(range(1, greatest(len(seq) - 2, 0) + 1),
           i -> CAST(seq[i] AS VARCHAR) || '>'
                || CAST(seq[i + 1] AS VARCHAR) || '>'
                || CAST(seq[i + 2] AS VARCHAR))) AS path
  FROM seqs WHERE len(seq) >= 3
), counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_paths FROM paths GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY n_paths DESC, path ASC) AS INT)
         AS rank,
       path, n_paths
FROM counts
ORDER BY rank LIMIT 20
"""


@query("sessions_top_paths", oracle=TOP_PATHS_ORACLE)
def sessions_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-20 length-3 click paths across user sessions — in-row
    sliding-window path assembly over the ordered per-user sequence
    (L−2 paths per session without a join or lag chain), one count
    shuffle over distinct paths, deterministic global rank with
    WindowGroupLimit pruning (operators/sessions.py::top_paths). The
    'top navigation paths' product-analytics report, hash-exact."""
    from arrow_spark.operators.sessions import top_paths

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return top_paths(ev, "user_id", "event_id", "k", path_len=3, k=20)


EXACT_QUANTILES_ORACLE = """
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM base
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn FROM base
), targets AS (
  SELECT q_mille, (n.n * q_mille + 999) // 1000 AS rank
  FROM (SELECT unnest([250, 500, 750, 900, 990]) AS q_mille), n
)
SELECT CAST(t.q_mille AS INT) AS q_mille, CAST(t.rank AS BIGINT) AS rank,
       r.v AS value
FROM targets t JOIN ranked r ON r.rn = t.rank
"""


@query("exact_quantiles_distributed", oracle=EXACT_QUANTILES_ORACLE)
def exact_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p75/p90/p99 of extended-price cents WITHOUT a
    global sort — the distributed order-statistics locate
    (operators/quantiles.py::exact_quantiles): one stats scan, one
    ≤256-cell bucket-count shuffle, cumulative offsets over the tiny
    bucket frame pick the single bucket holding each rank, and only
    those buckets get an in-bucket rank (expected n/256 rows each).
    Oracle = the naive full-sort row_number — different algebra, so the
    hash match proves the locate finds the identical order statistics."""
    from arrow_spark.operators.quantiles import exact_quantiles

    l = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return exact_quantiles(l, "cents", [250, 500, 750, 900, 990])


QUANTILE_MODES_ORACLE = """
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
  WHERE l_extendedprice IS NOT NULL
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM base
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn FROM base
), loc AS (
  -- the reference's double locate (QuantileToDataPoint): index =
  -- (n-1)*q as an IEEE double, di = trunc(index), frac = index - di.
  -- trunc(), NOT CAST(double AS BIGINT) — DuckDB's cast rounds.
  SELECT q_mille,
         CAST(trunc((n.n - 1) * (q_mille / 1000.0)) AS BIGINT) AS di,
         (n.n - 1) * (q_mille / 1000.0)
           - trunc((n.n - 1) * (q_mille / 1000.0)) AS frac
  FROM (SELECT unnest([250, 333, 500, 901, 990]) AS q_mille), n
), brack AS (
  SELECT l.q_mille, l.di, l.frac, lo.v AS vlo,
         CASE WHEN l.frac = 0 THEN lo.v ELSE hi.v END AS vhi
  FROM loc l
  JOIN ranked lo ON lo.rn = l.di + 1
  LEFT JOIN ranked hi ON hi.rn = l.di + 2
)
SELECT CAST(q_mille AS INT) AS q_mille, m.interpolation,
       CASE m.interpolation
         WHEN 'linear' THEN frac * CAST(vhi AS DOUBLE)
              + (1.0 - frac) * CAST(vlo AS DOUBLE)
         WHEN 'lower' THEN CAST(vlo AS DOUBLE)
         WHEN 'higher' THEN CAST(vhi AS DOUBLE)
         WHEN 'nearest' THEN CASE
            WHEN frac < 0.5 THEN CAST(vlo AS DOUBLE)
            WHEN frac > 0.5 THEN CAST(vhi AS DOUBLE)
            WHEN di % 2 = 0 THEN CAST(vlo AS DOUBLE)
            ELSE CAST(vhi AS DOUBLE) END
         WHEN 'midpoint' THEN CAST(vlo + vhi AS DOUBLE) / 2.0
       END AS value
FROM brack
CROSS JOIN (SELECT unnest(['linear','lower','higher','nearest','midpoint'])
            AS interpolation) m
"""


@query("agg_quantile_modes", oracle=QUANTILE_MODES_ORACLE)
def agg_quantile_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow's five QuantileOptions.interpolation modes (LINEAR, LOWER,
    HIGHER, NEAREST, MIDPOINT — api_aggregate.h:139, aggregate_
    quantile.cc::QuantileToDataPoint) over extended-price cents,
    exactly and distributed (operators/quantiles.py::
    quantile_interpolated): the two bracketing order statistics at
    di = trunc((n-1)·q) — the reference's own double locate, mirrored
    bit-for-bit — come from the same bounded-metadata bucket locate as
    exact_quantiles (literal IN pushdown, hot-bucket escalation), and
    each mode is the reference's fixed IEEE combine (LINEAR =
    frac·hi + (1−frac)·lo). NEAREST tie-breaks at frac == 0.5 with
    banker's rounding on di, exactly like the reference. Oracle =
    naive full-sort row_number + the same double locate — different
    plan, identical cells. Parity
    with the reference binary itself is pinned in
    tests/test_quantiles.py (randomized vs pc.quantile, all 5 modes)."""
    from arrow_spark.operators.quantiles import quantile_interpolated

    l = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return quantile_interpolated(l, "cents", [250, 333, 500, 901, 990])
