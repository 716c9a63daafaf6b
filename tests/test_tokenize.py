"""Relational BPE: cross-checked against a pure-Python trainer, plus
greedy-merge edge cases and a shuffle-count plan pin on the encode path."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from arrow_spark.checkpoint import ckpt_release
from arrow_spark.llm.tokenize import (
    bpe_train,
    encode_documents,
    encode_words,
    merge_pair,
    word_counts,
)


def _py_bpe(wc: dict[str, int], n: int):
    symtab = {w: list(w) for w in wc}
    merges = []
    for rank in range(1, n + 1):
        counts: collections.Counter = collections.Counter()
        for w, syms in symtab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += wc[w]
        if not counts:
            break
        (l, r), freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, freq))
        for w, syms in symtab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            symtab[w] = out
    return merges, symtab


def _wc_df(spark, wc):
    return spark.createDataFrame(list(wc.items()), "word string, wcount long")


def test_train_matches_python_reference(spark):
    wc = {
        "lower": 5, "lowest": 2, "newer": 6, "wider": 3,
        "new": 2, "a": 4, "aaaa": 3, "banana": 2,
    }
    py_merges, py_symtab = _py_bpe(dict(wc), 8)
    merges, final = bpe_train(_wc_df(spark, wc), 8)
    assert [(m["rank"], m["lhs"], m["rhs"], m["freq"]) for m in merges] == py_merges
    got = {r["word"]: r["syms"] for r in final.collect()}
    assert got == py_symtab


def test_encode_reproduces_training_segmentation(spark):
    wc = {"lower": 5, "lowest": 2, "newer": 6, "wider": 3, "banana": 2}
    merges, final = bpe_train(_wc_df(spark, wc), 6)
    enc = encode_words(_wc_df(spark, wc), merges)
    got = {r["word"]: r["tokens"] for r in enc.collect()}
    want = {r["word"]: r["syms"] for r in final.collect()}
    assert got == want


def test_greedy_run_is_left_to_right_non_overlapping(spark):
    df = spark.createDataFrame([("aaaa",), ("aaa",), ("a",)], "word string")
    out = {
        r["word"]: r["m"]
        for r in df.select(
            "word",
            merge_pair(
                F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
                "a",
                "a",
            ).alias("m"),
        ).collect()
    }
    assert out == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"], "a": ["a"]}


def test_merged_symbol_inert_within_rank(spark):
    # after merging (a,b) the new "ab" must not immediately pair with a
    # following b in the same pass: "abb" -> ["ab", "b"], not ["abb"]
    df = spark.createDataFrame([("abb",)], "word string")
    out = df.select(
        merge_pair(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            "a",
            "b",
        ).alias("m")
    ).collect()[0]["m"]
    assert out == ["ab", "b"]


def test_encode_documents_counts(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the dog"), (3, "")],
        "doc_id long, text string",
    )
    merges, _ = bpe_train(word_counts(docs), 3)
    rows = {r["id"]: (r["n_words"], r["n_tokens"]) for r in
            encode_documents(docs, merges).collect()}
    assert rows[1][0] == 3 and rows[2][0] == 3
    assert 3 not in rows  # no words -> no row, same as the oracle's inner join
    # tokens never exceed characters, never fewer than words
    assert rows[1][0] <= rows[1][1] <= len("thecatsat")


def test_encode_path_is_single_stage_per_vocab_word(spark, sf_dir):
    # the chained folds must stay one map-only projection: no Exchange
    # between the distinct-vocab scan and the tokens column
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        {"rank": 1, "lhs": "e", "rhs": "r"},
        {"rank": 2, "lhs": "t", "rhs": "h"},
        {"rank": 3, "lhs": "i", "rhs": "n"},
    ]
    vocab = spark.createDataFrame([("lowering",), ("thing",)], "word string")
    plan = encode_words(vocab, merges)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_vocab_roundtrip_serves_identical_encoding(spark, tmp_path):
    from arrow_spark.llm.tokenize import read_bpe_vocab, write_bpe_vocab

    wc = {"lower": 5, "lowest": 2, "newer": 6, "wider": 3}
    merges, _ = bpe_train(_wc_df(spark, wc), 5)
    path = str(tmp_path / "vocab")
    write_bpe_vocab(spark, merges, path)
    loaded = read_bpe_vocab(spark, path)
    assert [(m["rank"], m["lhs"], m["rhs"]) for m in loaded] == [
        (m["rank"], m["lhs"], m["rhs"]) for m in merges
    ]
    fresh = {r["word"]: r["tokens"] for r in encode_words(_wc_df(spark, wc), merges).collect()}
    served = {r["word"]: r["tokens"] for r in encode_words(_wc_df(spark, wc), loaded).collect()}
    assert fresh == served


@pytest.mark.parametrize("name", ["tokenize_bpe_merges", "tokenize_bpe_encode"])
def test_bpe_queries_free_the_symbols_generation(spark, sf_dir, name):
    # both queries read only the driver-side merge list, so the symbols
    # frame bpe_train returns leaves no persisted generation behind
    from arrow_spark.queries import load_all

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    load_all()[name].fn(spark, sf_dir).collect()
    assert set(persistent().keySet()) - before == set()


def test_bpe_train_frees_its_generation_when_pairs_run_out(spark):
    # "ab" has one pair: the table runs out after 1 of 3 merges, and the
    # symbols returned must still be the generation itself
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    merges, symbols = bpe_train(_wc_df(spark, {"ab": 3}), 3)
    assert [(m["lhs"], m["rhs"]) for m in merges] == [("a", "b")]
    assert [r["syms"] for r in symbols.collect()] == [["ab"]]
    assert ckpt_release(symbols) is True
    assert set(persistent().keySet()) - before == set()
