"""BPE tokenizer queries: merge-rule learning and document encoding,
both value-hash verified.

The oracle replays the SAME algorithm positionally in DuckDB: symbols as
(word, pos, sym) rows, adjacent pairs by self-join on pos+1, the greedy
non-overlapping match selection via run-parity (consecutive matched
positions form a run exactly when lhs == rhs; left-to-right greedy keeps
the odd-numbered positions of each run), and the merge as a
renumbering projection. Each training iteration is one chained CTE
block, generated per rank — the unrolled-CTE pattern proven by the
graph_pagerank oracle. All counts are integers, all comparisons are
binary-collation strings, so the hash check is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_spark.catalog import table
from arrow_spark.checkpoint import ckpt_release
from arrow_spark.llm.tokenize import bpe_train, encode_documents, word_counts
from arrow_spark.queries.base import query

N_MERGES = 10

_BASE = """
WITH dw AS MATERIALIZED (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents
), words AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS wcount FROM dw GROUP BY 1
), wpos AS MATERIALIZED (
  SELECT word, wcount, unnest(generate_series(1, len(word))) AS i FROM words
), s0 AS MATERIALIZED (
  SELECT word, wcount, CAST(i AS BIGINT) AS pos,
         substr(word, CAST(i AS INTEGER), 1) AS sym
  FROM wpos
)"""

_ITER = """
, pc{k} AS MATERIALIZED (
  SELECT a.sym AS lhs, b.sym AS rhs, sum(a.wcount) AS freq
  FROM s{p} a JOIN s{p} b ON a.word = b.word AND b.pos = a.pos + 1
  GROUP BY 1, 2
), m{k} AS MATERIALIZED (
  SELECT lhs, rhs, freq FROM pc{k} ORDER BY freq DESC, lhs, rhs LIMIT 1
), mt{k} AS MATERIALIZED (
  SELECT a.word, a.pos
  FROM s{p} a JOIN s{p} b ON a.word = b.word AND b.pos = a.pos + 1
  JOIN m{k} m ON a.sym = m.lhs AND b.sym = m.rhs
), sel{k} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           ROW_NUMBER() OVER (PARTITION BY word, pos - rn ORDER BY pos) AS rr
    FROM (SELECT word, pos,
                 ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS rn
          FROM mt{k})
  ) WHERE rr % 2 = 1
), s{k} AS MATERIALIZED (
  SELECT word, wcount,
         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
  FROM (
    SELECT s.word, s.wcount, s.pos,
           CASE WHEN sel.pos IS NOT NULL THEN s.sym || nx.sym ELSE s.sym END AS sym
    FROM s{p} s
    LEFT JOIN sel{k} sel ON s.word = sel.word AND s.pos = sel.pos
    LEFT JOIN sel{k} sd ON s.word = sd.word AND s.pos = sd.pos + 1
    LEFT JOIN s{p} nx ON s.word = nx.word AND nx.pos = s.pos + 1
    WHERE sd.pos IS NULL
  )
)"""


def _unrolled(n: int) -> str:
    return _BASE + "".join(_ITER.format(k=k, p=k - 1) for k in range(1, n + 1))


MERGES_ORACLE = _unrolled(N_MERGES) + "\n" + "\nUNION ALL\n".join(
    f"SELECT CAST({k} AS INTEGER) AS rank, lhs, rhs, CAST(freq AS BIGINT) AS freq FROM m{k}"
    for k in range(1, N_MERGES + 1)
)

ENCODE_ORACLE = _unrolled(N_MERGES) + f"""
, wt AS (
  SELECT word, CAST(max(pos) AS BIGINT) AS n_tokens FROM s{N_MERGES} GROUP BY word
), docw AS (
  SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
)
SELECT id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM docw JOIN wt USING (word) GROUP BY id
"""


@query("tokenize_bpe_merges", oracle=MERGES_ORACLE)
def tokenize_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 10 BPE merges over the documents corpus; return the rule
    table (rank, lhs, rhs, freq) — rule identity AND frequency checked."""
    wc = word_counts(table(spark, sf_dir, "documents"))
    merges, symbols = bpe_train(wc, N_MERGES)
    ckpt_release(symbols)  # only the driver-side merge list is read
    return spark.createDataFrame(
        [(m["rank"], m["lhs"], m["rhs"], m["freq"]) for m in merges],
        "rank int, lhs string, rhs string, freq long",
    )


@query("tokenize_bpe_encode", oracle=ENCODE_ORACLE)
def tokenize_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 10 merges, then BPE-encode every document; per-doc word and
    token counts are value-hash checked against the positional replay."""
    docs = table(spark, sf_dir, "documents")
    merges, symbols = bpe_train(word_counts(docs), N_MERGES)
    ckpt_release(symbols)  # encoding re-applies the merge list
    return encode_documents(docs, merges).select(
        "id",
        F.col("n_words").cast("long").alias("n_words"),
        "n_tokens",
    )
