"""Compressed index segments: fused one-pass build, checkpoint/resume,
lineage, metrics.

Layout v2 (parquet-backed; an Iceberg table would use the same schema
with a ``bucket(n, url)`` partition transform — the sandbox has no
Iceberg runtime jars, so this is the documented fallback per SURVEY.md
§7.4):

    <out_dir>/
      layout.json               written FIRST: n_buckets, mode, k1, b,
                                codec version — resume validation record
      index/bucket=K/*.parquet  unified rows, discriminated by ``kind``:
                                kind=0 doc rows  (doc_idx, url, dl)
                                kind=1 term rows (term_hash, term, df,
                                postings, blockmeta, encode_secs)
      termstats/*.parquet       (term, term_hash, df, idf) global
      lineage.parquet           one row per committed bucket per run
      metrics.parquet           per-bucket throughput/size rows
      stats.json                written LAST (completion marker):
                                N, avgdl, n_buckets, k1, b

**One bucket writer.** Both builds — :func:`build_segments` (text ->
segments) and :func:`build_segments_from_postings` (decoded postings ->
segments, the compaction path) — run the same bucket build: layout
check, lineage-gated resume, one mapInArrow kernel per bucket, commit,
finalize. They differ only in how a bucket's rows become sorted
postings. The text build tokenizes once (pyarrow C++ utf8_lower +
utf8_split_whitespace) and sorts + run-lengths the token arrays; the
postings build dictionary-encodes the urls and argsorts the rows, and
carries zero-token pages through as null-term rows so a compacted index
keeps them. The shared kernel then yields the doc rows and
varint-encodes the postings. One pass over the corpus is enough
because the codec's block metadata stores the avgdl-independent bound
pair ``(max_tf, min_dl)`` (codec.py): nothing in a segment depends on
corpus-global statistics, so no pre-pass is needed and the dominant
kernel cost (tokenization) is paid exactly once. Global stats (N,
avgdl, idf) are derived afterwards from the *already-written* doc rows
— a metadata-only aggregation, no text involved.

Partitioning choice: **documents** are hash-partitioned into buckets and
each bucket holds a full mini-index over its docs (local dense doc_idx).
Query serving scatters every query to all buckets and gathers per-bucket
top-k (reference mode 4 scatter-gather, ``src/processor.rs:146-369``, but
doc-sharded instead of term-sharded — doc sharding keeps per-partition
top-k semantics exact and is how web-scale engines shard). Skew: bucket
sizes are uniform by url-hash regardless of term distribution, so head
terms never concentrate a shuffle partition; the term-partitioned variant
with explicit head-term salting lives in ``term_merge.py``.

Checkpoint/resume (north_rule): each bucket is an idempotent unit. A
bucket is *committed* iff a lineage row exists for it; on resume,
uncommitted bucket directories (partial writes from a crash) are deleted
and only missing buckets are rebuilt — the per-bucket output is a pure
function of the input corpus, so a resumed build is identical to an
uninterrupted one (tested in tests/test_segments_wand.py). ``layout.json``
is written before any bucket and re-validated on resume: resuming with a
different bucket count (e.g. a changed file listing or
``spark.sql.files.maxPartitionBytes`` in map-side mode) fails fast
instead of silently renumbering buckets against the old lineage.
``stats.json`` is written only after every bucket has committed and
termstats is durable, so its presence IS the completion marker
(streaming/ingest.py gates generations on it) and resuming a complete
index is a no-op that reads only ``layout.json`` and ``stats.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .build import BM25_B, BM25_K1
from .codec import encode_postings_batch

CODEC_VERSION = 2

# Unified index-row schema: kind=0 doc rows, kind=1 term rows. One
# parquet table carries both — the build emits them from ONE kernel and
# readers prune by ``kind`` (columnar reads never touch the other kind's
# columns; predicate pushdown skips its row groups). Every column is
# nullable, as in every segment file written so far.
INDEX_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), True),
        StructField("kind", IntegerType(), True),
        StructField("doc_idx", LongType(), True),
        StructField("url", StringType(), True),
        StructField("dl", LongType(), True),
        StructField("term_hash", LongType(), True),
        StructField("term", StringType(), True),
        StructField("df", LongType(), True),
        StructField("postings", BinaryType(), True),
        StructField("blockmeta", BinaryType(), True),
        StructField("enc_bytes", LongType(), True),
        StructField("encode_secs", DoubleType(), True),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("segment_path", StringType(), False),
        StructField("input_docs", LongType(), False),
        StructField("committed_at", DoubleType(), False),
    ]
)


_PHASE_LOG = os.environ.get("SEGMENTS_PHASE_LOG", "") == "1"


class _phase:
    """Optional phase timer (SEGMENTS_PHASE_LOG=1) for build diagnostics."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        if _PHASE_LOG:
            print(
                f"[segments] {self.name}: {time.monotonic() - self.t0:.2f}s",
                file=sys.stderr,
                flush=True,
            )


def build_segments(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run-0",
    k1: float = BM25_K1,
    b: float = BM25_B,
    fail_after_buckets: int | None = None,
    pfor: bool = False,
) -> dict:
    """Build (or resume) the compressed segment index for ``pages``.

    ``fail_after_buckets`` injects a crash after committing that many
    buckets — used by the resume test only.

    ``pfor=True`` lets every block choose the cheaper of varint and
    patched frame-of-reference (PForDelta) encoding — measured ~20-35%
    smaller postings at ~1.5-4x slower encode (bench'd in BASELINE.md);
    serving decodes both transparently. Default off: the headline
    metric is build docs/sec and the tokenizer-dominant build keeps the
    faster encoder; flip it when segment storage/scan bytes matter more
    than one-time encode cost (usually true at 100 TB).

    Returns a summary dict (buckets built, docs, elapsed).
    """
    # Bucket layout — two modes:
    #   n_buckets > 0: url-hash bucketing (repartition + url sort) —
    #     deterministic under ANY input layout; used by tests/small runs.
    #     Secondary sort key xxhash64(text) pins the within-bucket order
    #     even when two docs share a url, so a resumed build is
    #     byte-identical to an uninterrupted one.
    #   n_buckets = 0: map-side — each INPUT PARTITION is a bucket and
    #     the corpus-sized data NEVER shuffles (this is how doc-sharded
    #     web indexes actually build: every shard indexes its own docs
    #     locally; only vocabulary-sized aggregates cross the wire).
    part = pages.select("url", "text")
    if n_buckets and n_buckets > 0:
        mode = "url-hash"
        part = part.repartition(n_buckets, "url").sortWithinPartitions(
            "url", F.xxhash64("text")
        )
    else:
        mode = "map-side"
        n_buckets = part.rdd.getNumPartitions()
    return _build(
        spark, part, _text_postings, out_dir, n_buckets, mode, run_id,
        k1, b, pfor, fail_after_buckets,
    )


def build_segments_from_postings(
    spark: SparkSession,
    postings: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "compact-0",
    k1: float = BM25_K1,
    b: float = BM25_B,
    pfor: bool = False,
) -> dict:
    """Build a segment index from an already-tokenized postings relation
    ``(url, term, tf, dl)`` — one row per (url, term), ``dl`` repeated
    per row, and one row with a null ``term`` for a zero-token doc. No
    text pass: this is the generation-compaction path
    (streaming/ingest.py) where the inputs are decoded from existing
    segments, and it doubles as a general "index from relation" ctor
    (SURVEY.md §2 B2). Produces the same unified layout as
    :func:`build_segments` through the same bucket writer; global stats
    (N, avgdl, idf) are computed over the union, which is exactly what
    compaction exists to restore. ``pfor`` selects the same per-block
    codec choice as :func:`build_segments` — compaction passes the
    source index's recorded choice through so a PFor index stays PFor
    after merge.

    ``url`` must be unique per document across the input (each (url,
    term) row carries the doc's full tf — true for the union of
    doc-disjoint generations).
    """
    part = postings.select("url", "term", "tf", "dl").repartition(
        n_buckets, "url"
    ).sortWithinPartitions("url", "term")
    return _build(
        spark, part, _relation_postings, out_dir, n_buckets,
        "url-hash-postings", run_id, k1, b, pfor,
    )


def _build(
    spark, part, postings_of, out_dir, n_buckets, mode, run_id, k1, b, pfor,
    fail_after_buckets=None,
) -> dict:
    """The one bucket build behind both public builders: layout check,
    lineage-gated resume of the missing buckets, then the finalize.

    ``part`` holds one partition per bucket and ``postings_of`` turns a
    bucket's rows into its sorted postings (see :func:`_build_buckets`).
    A complete index (``stats.json`` present — it is written last)
    returns its recorded stats without touching Spark or the files.
    """
    t0 = time.monotonic()
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    _check_layout(out, {
        "n_buckets": n_buckets,
        "mode": mode,
        "k1": k1,
        "b": b,
        "codec": CODEC_VERSION,
        "pfor": pfor,
    })
    stats_path = out / "stats.json"
    todo = []
    if not stats_path.exists():
        committed = _committed_buckets(spark, out)
        _clean_uncommitted(out, committed)
        todo = sorted(set(range(n_buckets)) - committed)[:fail_after_buckets]
        if todo:
            with _phase("build_buckets"):
                _build_buckets(spark, part, postings_of, out, todo, run_id, pfor)
        if len(_committed_buckets(spark, out)) == n_buckets:
            # Corpus stats + global term stats from the committed index —
            # metadata-only aggregations (no corpus/text pass).
            with _phase("stats"):
                agg = (
                    read_docmeta(spark, str(out))
                    .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
                    .collect()[0]
                )
            n_docs = int(agg["n"])
            with _phase("termstats"):
                _write_termstats(spark, out, n_docs)
            stats_path.write_text(json.dumps({
                "n_docs": n_docs,
                "avgdl": float(agg["avgdl"] or 0.0),
                "n_buckets": n_buckets,
                "k1": k1,
                "b": b,
            }))
    stats = json.loads(stats_path.read_text()) if stats_path.exists() else {}
    n_docs = stats.get("n_docs")
    elapsed = time.monotonic() - t0
    return {
        "built_buckets": len(todo),
        "n_docs": n_docs,
        "avgdl": stats.get("avgdl"),
        "complete": bool(stats),
        "elapsed_secs": elapsed,
        "docs_per_sec": (n_docs / elapsed) if (n_docs and todo) else None,
    }


def _check_layout(out: Path, layout: dict) -> None:
    """Resume-safety: the bucket layout must match the recorded one, or a
    resumed run would renumber buckets against the old lineage and
    silently build a corrupted mixed index. Fail fast instead."""
    layout_path = out / "layout.json"
    if not layout_path.exists():
        layout_path.write_text(json.dumps(layout))
        return
    prev = json.loads(layout_path.read_text())
    prev.setdefault("pfor", False)  # records from before the option
    if prev != layout:
        raise ValueError(
            f"index layout mismatch under {out}: recorded {prev}, "
            f"recomputed {layout} — refusing to resume (a map-side "
            "build must see the identical input partitioning; delete "
            "the directory to rebuild from scratch)"
        )


def _committed_buckets(spark: SparkSession, out: Path) -> set[int]:
    lineage = out / "lineage.parquet"
    if not lineage.exists():
        return set()
    rows = spark.read.parquet(str(lineage)).select("bucket").distinct().collect()
    return {r.bucket for r in rows}


def _clean_uncommitted(out: Path, committed: set[int]) -> None:
    base = out / "index"
    if not base.exists():
        return
    for d in base.glob("bucket=*"):
        try:
            b = int(d.name.split("=", 1)[1])
        except ValueError:
            continue
        if b not in committed:
            shutil.rmtree(d)


_MID_MASK = (1 << 33) - 1


def _run_starts(a: np.ndarray) -> np.ndarray:
    """Positions where a sorted array starts a new run of equal values."""
    if len(a) == 0:
        return np.zeros(0, dtype=np.int64)
    return np.flatnonzero(np.concatenate(([True], a[1:] != a[:-1])))


def _arrow_tokens(text_array):
    """Arrow-side reference tokenizer: lower + Unicode-whitespace split.

    Returns (flat tokens Array, doc_of int64, dl int64 per doc) with
    empty edge tokens dropped (utf8_split_whitespace keeps them; the
    reference's split_whitespace does not).
    """
    import pyarrow.compute as pc

    toks = pc.utf8_split_whitespace(pc.utf8_lower(text_array))
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = toks.values
    raw_counts = np.diff(offsets)
    doc_of = np.repeat(np.arange(len(raw_counts), dtype=np.int64), raw_counts)
    nonempty = pc.greater(pc.utf8_length(flat), 0)
    if not pc.all(nonempty).as_py():
        flat = flat.filter(nonempty)
        doc_of = doc_of[nonempty.to_numpy(zero_copy_only=False)]
    dl = np.bincount(doc_of, minlength=len(raw_counts)).astype(np.int64)
    return flat, doc_of, dl


def _text_postings(tbl):
    """``(url, text)`` rows -> ``(urls, dl, terms, p_codes, p_docs, p_tfs)``.

    Tokenize once, dictionary-encode the tokens, sort one packed int64
    key ``(term code << 33) | doc position`` in place and run-length it
    into (term, doc, tf) postings. (A stable argsort of the same key
    costs several times the in-place sort at every measured size.)
    """
    import pyarrow.compute as pc

    flat, doc_of, dl = _arrow_tokens(tbl.column("text").combine_chunks())
    de = pc.dictionary_encode(flat)
    codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    key = (codes << 33) | doc_of
    key.sort()
    run_starts = _run_starts(key)
    p_tfs = np.diff(np.append(run_starts, len(key)))
    key = key[run_starts]
    return (
        tbl.column("url").combine_chunks(), dl, de.dictionary,
        key >> 33, key & _MID_MASK, p_tfs,
    )


def _relation_postings(tbl):
    """``(url, term, tf, dl)`` rows sorted by url -> the same tuple as
    :func:`_text_postings`: doc_idx is the url's rank, and a null-term
    row (a zero-token doc) yields its doc row only."""
    import pyarrow.compute as pc

    u_enc = pc.dictionary_encode(tbl.column("url").combine_chunks())
    doc_of = u_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dl = np.zeros(len(u_enc.dictionary), dtype=np.int64)
    dl[doc_of] = tbl.column("dl").to_numpy().astype(np.int64)
    tf = tbl.column("tf").to_numpy().astype(np.int64)
    terms = tbl.column("term").combine_chunks()
    if terms.null_count:
        has_term = pc.is_valid(terms)
        terms = terms.filter(has_term)
        keep = has_term.to_numpy(zero_copy_only=False)
        doc_of, tf = doc_of[keep], tf[keep]
    t_enc = pc.dictionary_encode(terms)
    codes = t_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort((codes << 33) | doc_of, kind="stable")
    return (
        u_enc.dictionary, dl, t_enc.dictionary,
        codes[order], doc_of[order], tf[order],
    )


def _build_buckets(
    spark, part, postings_of, out: Path, todo, run_id, pfor=False
) -> None:
    """The single pass over the input — ZERO-SHUFFLE fused map-side
    indexing.

    Each partition (= bucket) of ``part`` flows through ONE mapInArrow
    kernel that does the whole per-bucket index build in Arrow/numpy.
    ``postings_of`` turns the bucket's rows into ``(urls, dl, term
    dictionary, p_codes, p_docs, p_tfs)`` — postings sorted by (term
    code, doc) — and the kernel emits the doc rows (doc_idx, url, dl),
    runs the batched varint/block-meta encode with avgdl-independent
    (max_tf, min_dl) bounds and emits the term rows. On the text path
    the corpus is tokenized exactly once (pyarrow C++ utf8_lower +
    utf8_split_whitespace — string data never becomes Python objects)
    and never crosses an exchange; the only shuffled relation in the
    whole build is vocabulary-sized (termstats). This mirrors how
    doc-sharded web indexes scale: posting construction is
    embarrassingly parallel per shard.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(INDEX_SCHEMA)
    todo_set = set(todo)
    part_f = part.filter(F.spark_partition_id().isin(list(todo_set)))

    def batch(n, bucket, kind, **cols):
        cols["bucket"] = pa.array(np.full(n, bucket, dtype=np.int32))
        cols["kind"] = pa.array(np.full(n, kind, dtype=np.int32))
        return pa.RecordBatch.from_arrays(
            [
                cols[f.name] if f.name in cols else pa.nulls(n, type=f.type)
                for f in arrow_schema
            ],
            schema=arrow_schema,
        )

    def encode_partition(batches):
        import hashlib

        from pyspark import TaskContext

        t_start = time.monotonic()
        batches = [rb for rb in batches if rb.num_rows]
        if not batches:
            return
        bucket = TaskContext.get().partitionId()
        urls, dl, terms, p_codes, p_docs, p_tfs = postings_of(
            pa.Table.from_batches(batches)
        )
        n_docs = len(urls)
        yield batch(
            n_docs, bucket, 0,
            doc_idx=pa.array(np.arange(n_docs, dtype=np.int64)),
            url=urls,
            dl=pa.array(dl),
        )
        if len(p_codes) == 0:
            return
        starts = _run_starts(p_codes)
        ends = np.append(starts[1:], len(p_codes))
        encoded = encode_postings_batch(
            p_docs, p_tfs, dl[p_docs], starts, ends, pfor=pfor
        )
        # Term strings via Arrow take (no Python string materialization);
        # hash60 per DISTINCT term only (vocabulary-sized) — identical to
        # int(md5[:15], 16) everywhere else in the engine.
        seg_terms = terms.take(pa.array(p_codes[starts], type=pa.int32()))
        hashes = np.array(
            [
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                for t in seg_terms.to_pylist()
            ],
            dtype=np.int64,
        )
        secs = np.full(len(starts), np.nan)
        secs[0] = time.monotonic() - t_start
        yield batch(
            len(starts), bucket, 1,
            term_hash=pa.array(hashes),
            term=seg_terms,
            df=pa.array(ends - starts),
            postings=pa.array([e.postings for e in encoded], type=pa.binary()),
            blockmeta=pa.array([e.blockmeta for e in encoded], type=pa.binary()),
            # per-term encoded size: lets the commit metrics sum a
            # cheap int column instead of scanning the binary bytes
            enc_bytes=pa.array(
                np.array(
                    [len(e.postings) + len(e.blockmeta) for e in encoded],
                    dtype=np.int64,
                )
            ),
            encode_secs=pa.array(secs, from_pandas=True),  # NaN -> null
        )

    rows = part_f.mapInArrow(encode_partition, schema=INDEX_SCHEMA)
    with _phase("encode+write"):
        rows.write.partitionBy("bucket").mode("append").parquet(
            str(out / "index")
        )
    _commit_buckets(spark, out, todo_set, run_id)


def _commit_buckets(spark, out: Path, todo_set: set, run_id: str) -> None:
    """Commit: lineage rows mark buckets durable; metrics ride along.

    ONE scan of the freshly-written buckets computes everything driver-
    side (n_buckets rows): doc counts, dl sums, term/posting counts and
    the per-term ``enc_bytes`` sum — no binary column is ever read
    (summing length(postings) would scan the whole segment payload,
    a fixed serial tail that hurt the high-parallelism bench levels).
    """
    agg_rows = (
        spark.read.parquet(str(out / "index"))
        .filter(F.col("bucket").isin(list(todo_set)))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("kind") == 0, 1).otherwise(0)).alias("input_docs"),
            F.sum(F.when(F.col("kind") == 0, F.col("dl"))).alias("dl_sum"),
            F.sum(F.when(F.col("kind") == 1, 1).otherwise(0)).alias("n_terms"),
            F.sum(F.when(F.col("kind") == 1, F.col("df"))).alias("n_postings"),
            F.sum("enc_bytes").alias("segment_bytes"),
            F.max("encode_secs").alias("encode_secs"),
        )
        .collect()
    )
    by_bucket = {r.bucket: r for r in agg_rows}
    now = time.time()
    lineage_rows = [
        (run_id, int(bkt), "committed", f"{out}/index/bucket={bkt}",
         int(by_bucket[bkt].input_docs if bkt in by_bucket else 0), now)
        for bkt in sorted(todo_set)
    ]
    spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(out / "lineage.parquet"))

    metric_rows = []
    for bkt in sorted(todo_set):
        r = by_bucket.get(bkt)
        if r is None or not r.n_terms:
            continue
        es = float(r.encode_secs) if r.encode_secs is not None else None
        metric_rows.append(
            (run_id, int(bkt), int(r.input_docs), int(r.dl_sum or 0),
             int(r.n_terms), int(r.n_postings), int(r.segment_bytes or 0),
             es,
             (r.input_docs / es) if es else None,
             (r.n_postings / es) if es else None)
        )
    spark.createDataFrame(
        metric_rows,
        "run_id string, bucket int, input_docs long, dl_sum long, "
        "n_terms long, n_postings long, segment_bytes long, "
        "encode_secs double, docs_per_sec double, postings_per_sec double",
    ).coalesce(1).write.mode("append").parquet(str(out / "metrics.parquet"))


def bm25_idf_col(df_col, n_docs: int):
    """``ln(1 + (N - df + 0.5) / (df + 0.5))`` — the build's BM25 idf.

    Shared by the streaming global-stats merge
    (:func:`..streaming.ingest.merge_generation_stats`) so idf computed
    from union-merged document frequencies is bit-identical to a full
    rebuild's.
    """
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_col + F.lit(0.5))
        / (df_col + F.lit(0.5))
    )


def _write_termstats(spark: SparkSession, out: Path, n_docs: int) -> None:
    # Vocabulary-sized aggregation over the compact segment rows —
    # the ONLY shuffle in the whole build (term strings ride in the
    # dictionary-encoded parquet column, so no corpus pass, no join).
    seg = read_segments(spark, str(out))
    ts = (
        seg.groupBy("term", "term_hash")
        .agg(F.sum("df").cast("long").alias("df"))
        .withColumn("idf", bm25_idf_col(F.col("df"), n_docs))
        .select("term", "term_hash", "df", "idf")
    )
    ts.write.mode("overwrite").parquet(str(out / "termstats"))


def load_stats(out_dir: str) -> dict:
    return json.loads((Path(out_dir) / "stats.json").read_text())


def read_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The raw unified index rows (both kinds)."""
    return spark.read.parquet(f"{out_dir}/index")


def read_segments(spark: SparkSession, out_dir: str) -> DataFrame:
    # term strings live in the segment rows themselves (parquet dictionary
    # encoding makes the column vocabulary-sized on disk)
    return (
        read_index(spark, out_dir)
        .filter(F.col("kind") == 1)
        .select(
            "bucket", "term_hash", "term", "df", "postings", "blockmeta",
            "encode_secs",
        )
    )


def read_docmeta(spark: SparkSession, out_dir: str) -> DataFrame:
    return (
        read_index(spark, out_dir)
        .filter(F.col("kind") == 0)
        .select("bucket", "doc_idx", "url", "dl")
    )


def read_postings_relation(spark: SparkSession, out_dir: str) -> DataFrame:
    """Decode the compressed segments back to ``(url, term, tf, dl)``.

    The inverse of the build: one grouped scan per bucket decodes every
    posting list and resolves doc_idx -> (url, dl) against the bucket's
    doc rows — no text involved. This is what generation compaction
    feeds into :func:`build_segments_from_postings`. A zero-token doc
    sits in no posting list, so it comes out as one row with a null
    ``term`` and ``tf = 0``: compaction keeps it in N and avgdl.
    """
    import pandas as pd

    from .codec import decode_postings

    idx = read_index(spark, out_dir).select(
        "bucket", "kind", "doc_idx", "url", "dl", "term", "postings", "blockmeta"
    )

    def decode_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        kinds = pdf["kind"].to_numpy()
        docs = pdf[kinds == 0]
        terms = pdf[kinds == 1]
        n_docs = len(docs)
        urls = np.empty(n_docs, dtype=object)
        dls = np.zeros(n_docs, dtype=np.int64)
        di = docs["doc_idx"].to_numpy(dtype=np.int64)
        urls[di] = docs["url"].to_numpy()
        dls[di] = docs["dl"].to_numpy(dtype=np.int64)
        empty = dls == 0
        url_parts, dl_parts = [urls[empty]], [dls[empty]]
        term_parts = [np.full(int(empty.sum()), None, dtype=object)]
        tf_parts = [np.zeros(int(empty.sum()), dtype=np.int64)]
        for t, p, m in zip(terms["term"], terms["postings"], terms["blockmeta"]):
            ids, tfs = decode_postings(bytes(p), bytes(m))
            url_parts.append(urls[ids])
            term_parts.append(np.full(len(ids), t, dtype=object))
            tf_parts.append(tfs.astype(np.int64))
            dl_parts.append(dls[ids])
        return pd.DataFrame(
            {
                "url": np.concatenate(url_parts),
                "term": np.concatenate(term_parts),
                "tf": np.concatenate(tf_parts),
                "dl": np.concatenate(dl_parts),
            }
        )

    return idx.groupBy("bucket").applyInPandas(
        decode_bucket, schema="url string, term string, tf long, dl long"
    )


def read_termstats(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/termstats")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/lineage.parquet")


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/metrics.parquet")
