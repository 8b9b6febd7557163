"""Corpus loading + deterministic fixture synthesis.

Two corpora feed the engine:

1. **Driver tables** (``/root/testdata/sf*/documents.parquet``,
   ``(doc_id, text, lang, source, n_chars)``): the correctness-gate corpus.
   ``load_documents``/``load_table`` read them; ``documents_as_pages``
   adapts them to the canonical ``pages`` shape.

2. **Reference-derived parity corpus**: the 100 plain-text documents and
   10 unique query strings of the reference repo (``documents/``,
   ``queries.txt:1-10``), loaded read-only from ``/root/reference`` when
   present and wrapped into the ``pages`` schema mandated by
   ``BASELINE.json`` ``input_hint``:
   ``(url string, warc_ts timestamp, html binary, text string, lang string)``.
   Used by the pytest parity suite (tf-sum/BM25 goldens). Falls back to
   skipping those tests when the reference checkout is absent.

3. **Synthetic filler pages** (``synth_pages``): seeded Zipfian pages per
   FIXTURES.md §5 for skew/scale tests — a pure function of (seed, i) so
   output is identical across parallelism levels.

The 10 query strings are embedded verbatim (data, not code), including
trailing spaces — the ``\\w+`` query tokenizer makes those invisible but
verbatim replay keeps the workload byte-identical to the reference's
``queries.txt`` protocol.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from pathlib import Path

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

REFERENCE_DIR = Path(os.environ.get("SEARCH_ENGINE_REFERENCE_DIR", "/root/reference"))
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The 10 unique query strings of the reference workload
# (/root/reference/queries.txt lines 1-10, repeated 50x in the file),
# verbatim including trailing spaces.
REFERENCE_QUERIES: list[str] = [
    "It's not easy to let go.",
    "Standard American breakfast. ",
    "Meaning of the phrase too many fish in the sea. ",
    "Two snakes wrapped around a staff from greek mythology. ",
    "Does size matter?.",
    "Computer chips and the sauce that fuels them. ",
    "In a while crocodile, later alligator. ",
    "Wednesday, thursday, friday, Vikings. ",
    "Rosewell, petrozovadsk and colares sightings. ",
    "Countries with high average body count.",
]

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), False),
    ]
)

QUERIES_SCHEMA = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("query_no", IntegerType(), False),
        StructField("query_string", StringType(), False),
    ]
)

_EPOCH = dt.datetime(2025, 10, 24, tzinfo=dt.timezone.utc)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_documents(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return load_table(spark, sf_dir, name="documents")


def documents_as_pages(docs: DataFrame) -> DataFrame:
    """Adapt the driver's documents table to the canonical pages shape."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(_EPOCH).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
        F.lit("txt").alias("lang"),
    )


def reference_available() -> bool:
    return (REFERENCE_DIR / "documents").is_dir()


def reference_pages_rows(wrap_html: bool = False) -> list[tuple]:
    """Rows for the 100-document reference parity corpus.

    ``wrap_html=False``: lang="txt", text = file content verbatim.
    ``wrap_html=True``: lang="html", html = content wrapped in
    ``<html><body>...</body></html>`` (text left NULL for the extraction
    kernel to fill; the body-text invariant is asserted by tests).
    """
    rows = []
    doc_dir = REFERENCE_DIR / "documents"
    for i, path in enumerate(sorted(doc_dir.iterdir())):
        content = path.read_text(encoding="utf-8")
        url = f"https://example.org/{path.name}"
        ts = _EPOCH + dt.timedelta(seconds=i)
        if wrap_html:
            html = f"<html><body>{content}</body></html>".encode()
            rows.append((url + ".html", ts, html, None, "html"))
        else:
            rows.append((url, ts, content.encode(), content, "txt"))
    return rows


def reference_pages(spark: SparkSession, wrap_html: bool = False) -> DataFrame:
    return spark.createDataFrame(reference_pages_rows(wrap_html), PAGES_SCHEMA)


def reference_queries_df(spark: SparkSession, reps: int = 1) -> DataFrame:
    rows = [
        (f"q{n + 1:02d}-r{rep + 1:02d}", n + 1, q)
        for rep in range(reps)
        for n, q in enumerate(REFERENCE_QUERIES)
    ]
    return spark.createDataFrame(rows, QUERIES_SCHEMA)


# ---------------------------------------------------------------------------
# Seeded Zipfian filler generator (FIXTURES.md §5) — pure function of
# (seed, i), so identical across partitionings/parallelism levels.
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 50_000
_ZIPF_S = 1.07

import numpy as np  # noqa: E402  (vectorized synth kernels)

_SM_C1 = np.uint64(0x9E3779B97F4A7C15)
_SM_C2 = np.uint64(0xBF58476D1CE4E5B9)
_SM_C3 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + _SM_C1).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(30))) * _SM_C2).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(27))) * _SM_C3).astype(np.uint64)
        return x ^ (x >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    return _splitmix64(x).astype(np.float64) / 2.0**64


def _zipf_rank(u: np.ndarray) -> np.ndarray:
    """Vectorized inverse-CDF Zipf(s) sample over the 50k vocabulary."""
    a = 1.0 - _ZIPF_S
    r = np.clip(u, 1e-12, 1.0)
    rank = (_VOCAB_SIZE**a * r + (1.0 - r)) ** (1.0 / a)
    return np.minimum(rank, _VOCAB_SIZE - 1).astype(np.int64)


_VOCAB_NP = np.array([f"w{i}" for i in range(_VOCAB_SIZE)], dtype=object)


def synth_page_texts(seed: int, ids: np.ndarray) -> list[str]:
    """Deterministic Zipfian page bodies for a batch of page ids.

    Pure function of (seed, id) — identical output at any batching or
    partitioning, which the two-cluster-size scaling comparison requires.
    Fully vectorized: one splitmix64/zipf pass over all tokens of the
    batch; the only per-page Python is the final ``' '.join``.
    """
    ids = np.asarray(ids, dtype=np.uint64)
    base = np.uint64(seed) * np.uint64(0x100000001) + ids
    u_len = _u01(base)
    n_tokens = np.clip(
        np.exp(5.5 + 0.6 * _inv_norm_np(u_len)).astype(np.int64), 8, 2000
    )
    offs = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_tokens, out=offs[1:])
    total = int(offs[-1])
    page_of = np.repeat(np.arange(len(ids)), n_tokens)
    pos = np.arange(total, dtype=np.uint64) - offs[page_of].astype(np.uint64)
    with np.errstate(over="ignore"):
        tok_key = (
            base[page_of] * np.uint64(0x9E3779B1) + pos * np.uint64(0x85EBCA77)
        ).astype(np.uint64)
    ranks = _zipf_rank(_u01(tok_key))
    toks = _VOCAB_NP[ranks]
    # ~1% of pages get reference-query terms appended so bench queries hit.
    inject = _splitmix64(base + np.uint64(7)) % np.uint64(100) == 0
    qpick = (_splitmix64(base + np.uint64(11)) % np.uint64(len(REFERENCE_QUERIES))).astype(np.int64)
    out = []
    for p in range(len(ids)):
        body = " ".join(toks[offs[p] : offs[p + 1]])
        if inject[p]:
            body = body + " " + REFERENCE_QUERIES[qpick[p]]
        out.append(body)
    return out


def _inv_norm_np(u: np.ndarray) -> np.ndarray:
    """Vectorized Beasley-Springer-Moro inverse normal CDF."""
    u = np.clip(u, 1e-12, 1 - 1e-12)
    a = [2.50662823884, -18.61500062529, 41.39119773534, -25.44106049637]
    b = [-8.47351093090, 23.08336743743, -21.06224101826, 3.13082909833]
    c = [
        0.3374754822726147, 0.9761690190917186, 0.1607979714918209,
        0.0276438810333863, 0.0038405729373609, 0.0003951896511919,
        0.0000321767881768, 0.0000002888167364, 0.0000003960315187,
    ]
    y = u - 0.5
    central = np.abs(y) < 0.42
    r = y * y
    num = y * (((a[3] * r + a[2]) * r + a[1]) * r + a[0])
    den = (((b[3] * r + b[2]) * r + b[1]) * r + b[0]) * r + 1.0
    cen_val = num / den
    rr = np.where(y > 0, 1 - u, u)
    rr = np.clip(rr, 1e-300, 1.0)
    s = np.log(-np.log(rr))
    t = np.full_like(s, c[0])
    sk = np.ones_like(s)
    for k in range(1, 9):
        sk = sk * s
        t = t + c[k] * sk
    tail_val = np.where(y > 0, t, -t)
    return np.where(central, cen_val, tail_val)


def synth_pages(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Distributed generation of n deterministic filler pages [start, start+n).

    Uses ``spark.range`` so generation parallelizes across executors; each
    row is a pure function of (seed, id) — identical output at any
    parallelism, which the two-level scaling comparison requires. The
    ``start`` offset lets independent workers generate disjoint slices of
    the same corpus (multi-process scaling evidence).
    """
    rng = spark.range(start, start + n, 1, partitions or spark.sparkContext.defaultParallelism)

    @F.pandas_udf(StringType())
    def _gen(ids: pd.Series) -> pd.Series:
        return pd.Series(
            synth_page_texts(seed, ids.to_numpy(dtype=np.uint64)), dtype=object
        )

    return (
        rng.select(
            F.format_string("https://synth.example.org/p/%012d", F.col("id")).alias("url"),
            (F.lit(_EPOCH) + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
            _gen(F.col("id")).alias("text"),
        )
        .withColumn("html", F.encode(F.col("text"), "utf-8"))
        .withColumn("lang", F.lit("txt"))
        .select("url", "warc_ts", "html", "text", "lang")
    )
