"""Exact-phrase matching over the documents corpus: top-k documents by
phrase occurrence count for a set of phrase queries.

The reference engine is bag-of-words only (its index stores no
positions, ``/root/reference/src/lib.rs:341-343``); phrase search is a
standard fulltext-tier extension built here on the pipeline's portable
``\\w+`` word tokenizer — applied to BOTH sides, because a phrase can
only match if document and query tokenize identically (the engine's
doc/query tokenizer asymmetry is a bag-of-words contract, not a
phrase-matching one).

Plan shape: per distinct phrase length ``n``, explode the corpus's
positional word n-grams and broadcast-join them against the (tiny)
phrase list — the classic "n-gram inverted index probe". The join is
map-side (broadcast literal), the only Exchange is the per-(query, doc)
count aggregation on a high-cardinality uniform key, and the final
top-k cut is a per-query row_number window that Spark 4's
WindowGroupLimit partial-limits map-side. At 100 TB the explode is the
dominant cost and is embarrassingly parallel; an index-backed variant
would store a positional postings stream per term and intersect
positions, trading scan for storage — out of scope here because the
segment codec (delta+varint postings) deliberately matches the
reference's positionless data model.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline.common import sql_words, words_col
from ..pipeline.textstats import _sql_ngrams

_WORD_RE = re.compile(r"\w+")

PHRASE_TOP_K = 10


def _phrase_rows(phrases: list[tuple[str, str]]) -> list[tuple[str, str, int]]:
    """(query_id, normalized phrase, n_tokens), empty phrases dropped."""
    out = []
    for qid, text in phrases:
        toks = [m.group(0).lower() for m in _WORD_RE.finditer(text)]
        if toks:
            out.append((qid, " ".join(toks), len(toks)))
    return out


def phrase_topk(
    docs: DataFrame,
    phrases: list[tuple[str, str]],
    k: int = PHRASE_TOP_K,
) -> DataFrame:
    """(query_id, rank, doc_id, n_occurrences) — top-k documents per
    phrase by exact-phrase occurrence count (positional word n-gram
    equality); rank ties break doc_id ASC; only matching docs appear.
    """
    spark = docs.sparkSession
    rows = _phrase_rows(phrases)
    per_len: dict[int, list[tuple[str, str]]] = {}
    for qid, ph, n in rows:
        per_len.setdefault(n, []).append((qid, ph))

    parts = []
    for n, group in sorted(per_len.items()):
        grams = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(words_col("text") if n == 1 else
                      _pos_ngrams_col(n)).alias("gram"),
        )
        qdf = spark.createDataFrame(group, ["query_id", "gram"])
        parts.append(
            grams.join(F.broadcast(qdf), "gram")
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        )
    if not parts:
        return spark.createDataFrame(
            [], "query_id string, rank long, doc_id long, n_occurrences long"
        )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_occurrences").desc(), F.col("doc_id").asc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occurrences")
    )


def _pos_ngrams_col(n: int):
    from ..pipeline.common import positional_ngrams

    return positional_ngrams(words_col("text"), n)


# Frozen phrase workload for the driver gate: drawn from the synthetic
# corpus's Zipf-head vocabulary so every phrase has matches at every
# scale factor (the reference's English query sentences never occur in
# the driver's documents table — a phrase gate over them would be
# vacuous). Lengths 1 and 2 exercise the per-length plan fan-out; the
# n>=3 path is unit-tested on planted docs.
PHRASE_QUERIES: list[tuple[str, str]] = [
    ("p01", "hash join"),
    ("p02", "slow query"),
    ("p03", "the table"),
    ("p04", "row scan"),
    ("p05", "table value"),
    ("p06", "fast scan"),
    ("p07", "value"),
]


def sql_phrase_topk(
    phrases: list[tuple[str, str]] | None = None, k: int = PHRASE_TOP_K
) -> str:
    """DuckDB mirror: same per-length n-gram explode + join + window."""
    rows = _phrase_rows(phrases if phrases is not None else PHRASE_QUERIES)
    per_len: dict[int, list[tuple[str, str]]] = {}
    for qid, ph, n in rows:
        per_len.setdefault(n, []).append((qid, ph))
    selects = []
    for n, group in sorted(per_len.items()):
        vals = ", ".join(
            "('%s', '%s')" % (qid, ph.replace("'", "''")) for qid, ph in group
        )
        gram_list = (
            sql_words("text") if n == 1 else _sql_ngrams(sql_words("text"), n)
        )
        selects.append(f"""
    SELECT q.query_id, d.doc_id, count(*)::BIGINT AS n_occurrences
    FROM (SELECT doc_id::BIGINT AS doc_id, g.gram
          FROM documents, unnest({gram_list}) AS g(gram)) d
    JOIN (VALUES {vals}) q(query_id, gram) ON d.gram = q.gram
    GROUP BY q.query_id, d.doc_id""")
    union = "\n    UNION ALL\n".join(selects)
    return f"""
WITH hits AS (
{union}
),
ranked AS (
    SELECT query_id, doc_id, n_occurrences,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n_occurrences DESC, doc_id ASC)::BIGINT
               AS rank
    FROM hits
)
SELECT query_id, rank, doc_id, n_occurrences
FROM ranked WHERE rank <= {k}
"""
