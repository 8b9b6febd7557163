"""The one bucket writer behind both segment builds, on synthetic pages.

Hermetic (Zipf filler text from ``corpus.synth_page_texts``, no reference
corpus), so it runs on every host:

- a postings rebuild (``read_postings_relation`` ->
  ``build_segments_from_postings``) equals the text build row for row;
- both entry points refuse a directory recorded with another layout;
- resuming a complete index touches no file and runs no Spark job;
- compaction keeps zero-token pages, so its stats equal a full rebuild's.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

from search_engine_spark.corpus import synth_page_texts
from search_engine_spark.index.segments import (
    build_segments,
    build_segments_from_postings,
    load_stats,
    read_index,
    read_postings_relation,
    read_termstats,
)
from search_engine_spark.streaming.ingest import compact_generations

N_PAGES = 120
N_BUCKETS = 3
# zero-token pages: empty and whitespace-only text
EMPTY = {5: "", 77: " \n\t "}


def _pages(spark, lo: int, hi: int):
    texts = synth_page_texts(11, np.arange(lo, hi, dtype=np.uint64))
    rows = [
        (f"https://w.example/p/{i:04d}", EMPTY.get(i, t))
        for i, t in zip(range(lo, hi), texts)
    ]
    return spark.createDataFrame(rows, "url string, text string")


def _contents(spark, d: str):
    """({(bucket, term): term row}, {(bucket, doc_idx): doc row}, termstats)."""
    terms, docs = {}, {}
    for r in read_index(spark, d).collect():
        if r.kind == 1:
            terms[(r.bucket, r.term)] = (
                r.term_hash, r.df, bytes(r.postings), bytes(r.blockmeta),
                r.enc_bytes,
            )
        else:
            docs[(r.bucket, r.doc_idx)] = (r.url, r.dl)
    ts = {
        r.term: (r.term_hash, r.df, r.idf)
        for r in read_termstats(spark, d).collect()
    }
    return terms, docs, ts


def _mtimes(d: str) -> dict[str, int]:
    return {str(p): p.stat().st_mtime_ns for p in Path(d).rglob("*")}


@pytest.fixture(scope="module")
def text_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("writer") / "text")
    s = build_segments(spark, _pages(spark, 0, N_PAGES), d, n_buckets=N_BUCKETS)
    assert s["built_buckets"] == N_BUCKETS and s["complete"]
    return d


@pytest.fixture(scope="module")
def text_contents(spark, text_index):
    return _contents(spark, text_index)


@pytest.fixture(scope="module")
def postings_index(spark, text_index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("writer") / "postings")
    s = build_segments_from_postings(
        spark, read_postings_relation(spark, text_index), d, n_buckets=N_BUCKETS
    )
    assert s["built_buckets"] == N_BUCKETS
    return d


def test_postings_rebuild_matches_text_build(
    spark, text_index, text_contents, postings_index
):
    terms, docs, _ = text_contents
    assert len(docs) == N_PAGES
    empty = [dl for url, dl in docs.values() if url.endswith(("0005", "0077"))]
    assert empty == [0, 0]
    assert len(terms) > 1000
    assert _contents(spark, postings_index) == text_contents
    assert load_stats(postings_index) == load_stats(text_index)
    assert load_stats(text_index)["n_docs"] == N_PAGES


def test_layout_mismatch_raises_on_both_entry_points(spark, text_index):
    pages = _pages(spark, 0, 4)
    with pytest.raises(ValueError, match="layout mismatch"):
        build_segments(spark, pages, text_index, n_buckets=N_BUCKETS + 1)
    with pytest.raises(ValueError, match="layout mismatch"):
        build_segments(spark, pages, text_index, n_buckets=N_BUCKETS, pfor=True)
    with pytest.raises(ValueError, match="layout mismatch"):
        # same bucket count, but the index was recorded by the text build
        build_segments_from_postings(
            spark, read_postings_relation(spark, text_index), text_index,
            n_buckets=N_BUCKETS,
        )


@pytest.mark.parametrize("builder", ["text", "postings"])
def test_resume_of_complete_index_is_noop(spark, text_index, request, builder):
    if builder == "text":
        d, build = text_index, build_segments
        source = _pages(spark, 0, N_PAGES)
    else:
        d = request.getfixturevalue("postings_index")
        build = build_segments_from_postings
        source = read_postings_relation(spark, text_index)
    before, stats = _mtimes(d), load_stats(d)
    sc = spark.sparkContext
    group = f"resume-noop-{builder}"
    sc.setJobGroup(group, "resume of a complete index")
    try:
        s = build(spark, source, d, n_buckets=N_BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _mtimes(d) == before
    assert s["built_buckets"] == 0 and s["complete"] and s["docs_per_sec"] is None
    assert (s["n_docs"], s["avgdl"]) == (stats["n_docs"], stats["avgdl"])


def test_compaction_keeps_zero_token_pages(spark, text_index, text_contents, tmp_path):
    out = tmp_path / "gens"
    half = N_PAGES // 2  # one zero-token page lands in each generation
    build_segments(spark, _pages(spark, 0, half), str(out / "gen=0"), n_buckets=2)
    build_segments(
        spark, _pages(spark, half, N_PAGES), str(out / "gen=1"), n_buckets=2
    )
    compacted = compact_generations(spark, str(out), n_buckets=N_BUCKETS)
    assert load_stats(compacted) == load_stats(text_index)
    assert _contents(spark, compacted) == text_contents
