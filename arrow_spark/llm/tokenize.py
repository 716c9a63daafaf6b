"""Relational BPE tokenizer: vocabulary learning and encoding as Spark
DataFrame algebra.

The one tokenizer-side capability a pretraining pipeline needs beyond
token *counting* (queries/text.py) is learning the tokenization itself:
byte-pair-encoding merge rules trained on the corpus, then applied to
encode documents. Both phases are expressed relationally — no Python in
the per-row path — which is what makes them runnable on the full corpus
instead of a driver-side sample:

- ``word_counts``: corpus → (word, count). BPE trainers operate on the
  distinct-word frequency table, not the raw token stream; Zipf's law
  makes |distinct words| orders of magnitude smaller than |tokens|, so
  every later step is bounded by vocabulary size, not corpus size.
- ``bpe_train``: the classic iterative algorithm (Sennrich et al. 2016)
  with each iteration = ONE aggregation shuffle (adjacent-pair counts
  over the word table) + a 1-row argmax collected to the driver (the
  chosen merge — same driver-scalar pattern as Lloyd centroids in
  llm/similarity.py) + a map-only array fold applying the merge. State
  between iterations is the per-word symbol array; lineage is truncated
  with a stats-reset checkpoint on a cadence, like operators/pagerank.py.
- ``bpe_encode``: applies the learned merges in rank order as chained
  in-row folds — a single map-only projection (merges are literals), no
  shuffle, no iteration-to-iteration job boundary. Encoding distinct
  words then joining back to the document word stream keeps the fold
  cost ∝ vocabulary, not corpus.

Greedy left-to-right non-overlapping pair replacement is a sequential
scan per word, expressed as ``F.aggregate`` over the symbol array with a
(accumulated-array, pending-symbol) struct accumulator — in-row, exact,
JVM-evaluated. The DuckDB oracle replays the same algorithm positionally
(rows (word, pos, sym); run-parity selection picks the same
non-overlapping matches), so training and encoding are value-hash
verifiable end to end.

Reference anchors: the reference ships the *kernels* a tokenizer pipeline
uses (cpp/src/arrow/compute/kernels/scalar_string_ascii.cc utf8_split /
match; vector_hash.cc value_counts) but no trainer; this module is the
composition of those primitives the reference leaves to its users.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import Generations

#: Word pattern shared by Spark and the DuckDB oracles (both engines'
#: regexp_extract_all agree on this class).
WORD_RE = "[a-z]+"


def word_counts(
    docs: DataFrame, text_col: str = "text", pattern: str = WORD_RE
) -> DataFrame:
    """Distinct-word frequency table: (word, wcount).

    One explode + one groupBy shuffle; the result is the Zipf-compressed
    training set every other step runs on.
    """
    return (
        docs.select(
            F.explode(F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


def _chars_expr(col_name: str) -> Column:
    """Character symbol array — the rank-0 segmentation."""
    return F.expr(
        f"transform(sequence(1, length({col_name})), i -> substring({col_name}, i, 1))"
    )


def _adjacent_pairs(syms: Column) -> Column:
    """Array of (l, r) structs for each adjacent symbol pair.

    Guarded: sequence(1, 0) in Spark counts DOWN, so single-symbol words
    must short-circuit to an empty array.
    """
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("lhs"),
                F.element_at(syms, i + 1).alias("rhs"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))


def merge_pair(syms: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right non-overlapping replacement of (lhs, rhs)
    with lhs||rhs — the BPE merge step, as an in-row fold.

    Accumulator: (arr = merged output so far, prev = pending symbol not
    yet committed). A pending ``lhs`` followed by ``rhs`` commits the
    merged symbol and clears the pending slot, so a freshly merged token
    never participates in another merge this rank (BPE semantics; also
    what makes runs like "aaaa" → ["aa","aa"] come out left-to-right
    greedy). eqNullSafe keeps the null pending slot falsy.
    """
    merged = F.lit(lhs + rhs)
    init = F.struct(
        F.array().cast("array<string>").alias("arr"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc: Column, x: Column) -> Column:
        hit = acc["prev"].eqNullSafe(F.lit(lhs)) & x.eqNullSafe(F.lit(rhs))
        return F.when(
            hit,
            F.struct(
                F.concat(acc["arr"], F.array(merged)).alias("arr"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["prev"].isNull(), acc["arr"])
                .otherwise(F.concat(acc["arr"], F.array(acc["prev"])))
                .alias("arr"),
                x.alias("prev"),
            )
        )

    def fin(acc: Column) -> Column:
        return F.when(acc["prev"].isNull(), acc["arr"]).otherwise(
            F.concat(acc["arr"], F.array(acc["prev"]))
        )

    return F.aggregate(syms, init, step, fin)


def bpe_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    count_col: str = "wcount",
    checkpoint_every: int = 4,
) -> tuple[list[dict], DataFrame]:
    """Learn ``n_merges`` BPE merge rules from a word-frequency table.

    Returns (merges, final_symbols): merges is the ordered rule list
    [{rank, lhs, rhs, freq}, ...]; final_symbols is (word, wcount, syms)
    — each training word's segmentation under all learned rules, which
    is also its BPE encoding (greedy rank-order application reproduces
    the training-time segmentation for in-vocabulary words).

    Scale: per iteration, ONE shuffle (pair-count aggregation over the
    word table, map-side partials) and a 1-row TakeOrdered argmax to the
    driver; the merge application is a map-only fold. The iterated state
    is vocabulary-sized and checkpointed every ``checkpoint_every``
    rounds so the plan does not accrete ``n_merges`` nested folds; each
    checkpoint frees the generation it supersedes.
    """
    merges: list[dict] = []
    with Generations("bpe_train") as g:
        cur = g.ckpt(
            words.select(
                F.col(word_col).alias("word"),
                F.col(count_col).cast("long").alias("wcount"),
                _chars_expr(word_col).alias("syms"),
            )
        )
        gen = cur
        for rank in range(1, n_merges + 1):
            top = (
                cur.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "wcount")
                .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
                .agg(F.sum("wcount").alias("freq"))
                .orderBy(F.desc("freq"), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not top:
                break
            lhs, rhs, freq = top[0]["lhs"], top[0]["rhs"], top[0]["freq"]
            merges.append({"rank": rank, "lhs": lhs, "rhs": rhs, "freq": int(freq)})
            cur = cur.withColumn("syms", merge_pair(F.col("syms"), lhs, rhs))
            if rank % checkpoint_every == 0:
                # the superseded generation is freed once this one has
                # materialized (the checkpoint is eager)
                cur = g.ckpt(cur)
                g.release(gen)
                gen = cur
        if cur is not gen:
            # merges pending since the last checkpoint: after the last
            # rank, or when the word table ran out of pairs before it
            cur = g.ckpt(cur)
            g.release(gen)
        # the returned symbols are the last generation itself, so the
        # caller's ckpt_release frees it
        g.keep(cur)
    return merges, cur


def encode_words(
    words: DataFrame, merges: list[dict], word_col: str = "word"
) -> DataFrame:
    """Segment each distinct word under the merge rules: adds ``tokens``
    (array<string>) and ``n_tokens``.

    All ranks apply in one map-only projection — the merges are literals,
    so Catalyst chains the folds inside a single WholeStageCodegen stage
    with zero shuffles.
    """
    syms = _chars_expr(word_col)
    for m in sorted(merges, key=lambda m: m["rank"]):
        syms = merge_pair(syms, m["lhs"], m["rhs"])
    return words.withColumn("tokens", syms).withColumn("n_tokens", F.size("tokens"))


def encode_documents(
    docs: DataFrame,
    merges: list[dict],
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = WORD_RE,
) -> DataFrame:
    """Per-document BPE statistics: (id, n_words, n_tokens).

    The fold runs once per DISTINCT word (vocabulary-bounded), then an
    equi-join on the word string fans the counts back out to the
    document word stream — cost ∝ corpus words only in the join, which
    Catalyst shuffle-partitions by word.
    """
    doc_words = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")
        ).alias("word"),
    )
    vocab = encode_words(doc_words.select("word").distinct(), merges)
    return (
        doc_words.join(vocab.select("word", "n_tokens").hint("merge"), "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def write_bpe_vocab(spark: SparkSession, merges: list[dict], path: str) -> None:
    """Persist learned merge rules as a parquet artifact — the
    train-once / encode-many contract (same posture as the bloom and IVF
    index round-trips in sources/bloom_index.py and llm/similarity.py)."""
    spark.createDataFrame(
        [(m["rank"], m["lhs"], m["rhs"], int(m.get("freq", 0))) for m in merges],
        "rank int, lhs string, rhs string, freq long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def read_bpe_vocab(spark: SparkSession, path: str) -> list[dict]:
    """Load a persisted merge table, in rank order, ready for
    ``encode_words``/``encode_documents``."""
    return [
        {"rank": r["rank"], "lhs": r["lhs"], "rhs": r["rhs"], "freq": r["freq"]}
        for r in spark.read.parquet(path).orderBy("rank").collect()
    ]
