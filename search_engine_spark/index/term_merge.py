"""Term-partitioned index build: salted two-phase shuffle merge.

This is the layout the north_rule describes verbatim: posting lists
shuffle-merged **on term**, with **explicit salting for head-term skew**.
(The serving path uses the doc-partitioned segments of ``segments.py``;
this module exists because term-partitioned postings are the natural
layout for term-lookup workloads — the reference's own shard axis,
``src/processor.rs:176-179`` — and because a naive ``groupBy(term)``
merge melts down at Common-Crawl scale: a stopword like ``the`` appears
in ~every document, so one reducer would receive ~10^12 postings.)

Phase 0 — deterministic dense global doc ids without a global sort:
   docs are hash-bucketed on url; per-bucket ``row_number`` over
   url-order gives a local index; bucket counts are prefix-summed on the
   driver (a few thousand ints) into offsets; global_id = offset[bucket]
   + local_idx. Fully parallel, deterministic, and stable across
   parallelism levels.

Phase 1 — salted partial lists: postings group by (term, salt) where
   salt = hash(url) % n_salts, so each head term's postings are spread
   over ``n_salts`` reducers. Each group is encoded into a compressed
   partial chunk (docid-sorted within the chunk) by the same Arrow
   codec kernel as the segment build.

Phase 2 — merge on term: the ``n_salts`` compressed chunks per term are
   tiny relative to raw postings (the whole point — the second shuffle
   moves compressed bytes, ~10-20x smaller). Chunks are decoded,
   merged (docid sets are disjoint across salts; a single argsort of the
   concatenation restores global order), and re-encoded into the final
   posting list, written partitioned by ``term_bucket`` for partition-
   pruned term lookups.

Invariant tested in tests/test_term_merge.py: the salted two-phase output
is byte-identical to a direct unsalted single-phase build, and decodes to
exactly the uncompressed postings relation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.tokenize import doc_tokens_col
from .build import BM25_B, BM25_K1
from .codec import decode_postings, encode_postings

PARTIAL_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("df", LongType(), False),
        StructField("postings", BinaryType(), False),
        StructField("blockmeta", BinaryType(), False),
        # dl per posting as a varint side-stream: the merge phase needs
        # doc lengths to recompute block-max norms without any doc join.
        StructField("dls", BinaryType(), False),
    ]
)

MERGED_SCHEMA = StructType(
    [
        StructField("term_bucket", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("postings", BinaryType(), False),
        StructField("blockmeta", BinaryType(), False),
    ]
)


def global_doc_ids(spark: SparkSession, pages: DataFrame, n_buckets: int = 64) -> DataFrame:
    """(url, doc_id, dl) with dense deterministic global ids (phase 0)."""
    toks = pages.select(
        "url",
        F.size(doc_tokens_col("text")).cast("long").alias("dl"),
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int").alias("b"),
    )
    w = Window.partitionBy("b").orderBy("url")
    local = toks.withColumn("local_idx", (F.row_number().over(w) - 1).cast("long"))
    counts = {
        r.b: r.cnt
        for r in local.groupBy("b").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    omap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return local.select(
        "url",
        (omap[F.col("b")] + F.col("local_idx")).cast("long").alias("doc_id"),
        "dl",
    )


def _postings_with_ids(pages: DataFrame, ids: DataFrame) -> DataFrame:
    toks = pages.select("url", F.explode(doc_tokens_col("text")).alias("term"))
    return (
        toks.groupBy("url", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .join(ids, "url")
        .select("term", "doc_id", "tf", "dl")
    )


def build_term_index(
    spark: SparkSession,
    pages: DataFrame,
    n_salts: int = 8,
    n_term_buckets: int = 16,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Salted two-phase term-partitioned index. Returns MERGED_SCHEMA df.

    ``n_salts=1`` degenerates to a direct single-phase build (used by the
    equivalence test: salted output must be identical to unsalted).
    """
    from .codec import varint_decode, varint_encode

    ids = global_doc_ids(spark, pages)
    postings = _postings_with_ids(pages, ids)

    # Salt on doc hash: a head term's postings spread over n_salts
    # reducers instead of one. dl rides along with each posting row, so
    # the encode kernels never need a doc-side join after the shuffle.
    # Grouping key for the pandas kernels is the COARSE (term_bucket,
    # salt) pair — one Arrow exchange per bucket, with the per-term
    # sub-grouping done vectorized inside pandas; per-term applyInPandas
    # groups would pay an Arrow round-trip for every tiny group.
    salted = postings.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts)).cast("int")
    ).withColumn(
        "term_bucket",
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_term_buckets)).cast("int"),
    )

    def encode_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
            g = g.sort_values("doc_id", kind="mergesort")
            d_ids = g["doc_id"].to_numpy(dtype=np.int64)
            tfs = g["tf"].to_numpy(dtype=np.int64)
            dls = g["dl"].to_numpy(dtype=np.int64)
            enc = encode_postings(d_ids, tfs, dls)
            rows.append(
                (term, int(salt), len(d_ids), enc.postings, enc.blockmeta,
                 varint_encode(dls.astype(np.uint64)))
            )
        return pd.DataFrame(
            rows,
            columns=["term", "salt", "df", "postings", "blockmeta", "dls"],
        )

    partials = salted.groupBy("term_bucket", "salt").applyInPandas(
        encode_partial, schema=PARTIAL_SCHEMA
    ).withColumn(
        "term_bucket",
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_term_buckets)).cast("int"),
    )

    def merge_term(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for term, g in pdf.groupby("term", sort=False):
            id_parts, tf_parts, dl_parts = [], [], []
            for p, m, d in zip(g["postings"], g["blockmeta"], g["dls"]):
                i, t = decode_postings(bytes(p), bytes(m))
                id_parts.append(i)
                tf_parts.append(t)
                dl_parts.append(varint_decode(bytes(d)))
            ids_all = np.concatenate(id_parts)
            order = np.argsort(ids_all, kind="stable")
            ids_all = ids_all[order]
            tfs_all = np.concatenate(tf_parts)[order]
            dls_all = np.concatenate(dl_parts)[order].astype(np.int64)
            enc = encode_postings(ids_all, tfs_all, dls_all)
            rows.append((term, int(len(ids_all)), enc.postings, enc.blockmeta))
        return pd.DataFrame(
            rows, columns=["term", "df", "postings", "blockmeta"]
        )

    merged = partials.groupBy("term_bucket").applyInPandas(
        merge_term,
        schema=StructType([f for f in MERGED_SCHEMA.fields if f.name != "term_bucket"]),
    )
    return merged.withColumn(
        "term_bucket",
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_term_buckets)).cast("int"),
    ).select("term_bucket", "term", "df", "postings", "blockmeta")
