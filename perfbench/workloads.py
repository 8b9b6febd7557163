"""The three closed-loop workloads, their seeded inputs and their checks.

Every workload runs in one process with one client thread. Each has a
``setup`` step (reported as ``setup_s``) that ends with an untimed
warm-up, then its timed phases, then correctness checks outside every
timed region. The warm-up covers every timed call shape except
``ingest``'s compaction and three of ``curate``'s four gates, which
would not fit the per-run time budget; each run discloses its warm-up
calls. Results of every timed op are kept and checked; a wrong result
counts as a failed op.

- ``search``: one index built from seeded Zipf pages, then single
  queries in list form (phase ``single``, the fast path) and fixed-size
  DataFrame batches (phase ``batch``, the plan path).
- ``ingest``: pages arrive in generations, each built by
  ``build_segments`` into ``gen=<i>`` the way ``index_stream``'s
  ``foreachBatch`` does; after each one the global stats merge and
  closed-loop queries over the live generations run; then
  ``compact_generations`` and the same queries again.
- ``curate``: four dedup gates of ``api_pipeline`` over a seeded
  documents table, the Spark cache cleared before each.
"""

from __future__ import annotations

import math
import statistics
import time
from pathlib import Path

import numpy as np

# Sizes per workload. ``full`` is what BENCHMARK.json runs; ``tiny`` is
# the self-test's smallest size. ``ingest`` and ``curate`` do a fixed
# amount of work; ``--seconds`` bounds only ``search``'s query phases
# (above a minimum op count). The full sizes are small so that one run,
# Spark session start and warm-up included, takes about a minute on four
# CPUs.
SIZES = {
    "search": {
        "full": dict(pages=8000, buckets=4, warm_pages=400, warm_single=3,
                     warm_batches=1, batch=16, min_single=8, min_batches=3),
        "tiny": dict(pages=600, buckets=2, warm_pages=100, warm_single=1,
                     warm_batches=1, batch=4, min_single=2, min_batches=1),
    },
    "ingest": {
        "full": dict(gens=2, gen_pages=600, buckets=4, warm_gens=2, warm_pages=80,
                     per_round=3),
        "tiny": dict(gens=2, gen_pages=200, buckets=2, warm_gens=1, warm_pages=60,
                     per_round=1),
    },
    "curate": {
        "full": dict(docs=600, warm_docs=60),
        "tiny": dict(docs=300, warm_docs=50),
    },
}

CURATE_GATES = ["minhash_pairs", "simhash_pairs", "ngram_jaccard_pairs", "dedup_groups"]

ZIPF_QUERY_S = 1.0
TOP_K = 10
PAGE_URL = "https://synth.example.org/p/%012d"


# --- seeded inputs -----------------------------------------------------------


def write_pages(run, path: str, n: int, timed: int | None = None) -> dict:
    """Write pages [0, n) of the seeded Zipf corpus
    (``corpus.synth_page_texts``, the kernel behind ``synth_pages``) as
    parquet (url, text); returns the page and UTF-8 text-byte counts of
    the first ``timed`` pages (all by default)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.corpus import synth_page_texts

    texts = synth_page_texts(run.seed, np.arange(n, dtype=np.uint64))
    timed = n if timed is None else timed
    Path(path).mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"url": [PAGE_URL % i for i in range(n)], "text": texts}),
        f"{path}/part-0.parquet",
    )
    return {"pages": timed, "text_bytes": sum(len(t.encode()) for t in texts[:timed])}


def page_range(pages, lo: int, hi: int):
    """Pages with ids in [lo, hi) (the urls end in the zero-padded id,
    so url order is id order)."""
    from pyspark.sql import functions as F

    return pages.filter((F.col("url") >= PAGE_URL % lo) & (F.col("url") < PAGE_URL % hi))


def write_documents(run, sf_dir: str, n: int, start: int = 0) -> dict:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) in
    ``sf_dir``: Zipf page bodies from ``corpus.synth_page_texts``, cut
    to 20-120 tokens, with every fifth document a near-duplicate of an
    earlier one (two tokens replaced), so the dedup gates find pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.corpus import synth_page_texts

    rng = np.random.default_rng([run.seed, start, 7])
    ids = np.arange(start, start + n, dtype=np.uint64)
    texts = []
    for i, body in enumerate(synth_page_texts(run.seed, ids)):
        toks = body.split(" ")[: int(rng.integers(20, 121))]
        if i >= 5 and i % 5 == 0:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = f"w{int(rng.integers(0, 50000))}"
        texts.append(" ".join(toks))
    langs = np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)]
    table = pa.table({
        "doc_id": pa.array(np.arange(start, start + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    Path(sf_dir).mkdir(parents=True, exist_ok=True)
    pq.write_table(table, f"{sf_dir}/documents.parquet")
    return {"pages": n, "text_bytes": sum(len(t.encode()) for t in texts)}


class QueryGen:
    """Seeded in-vocabulary queries: 2-6 distinct terms, Zipf-weighted
    over the index lexicon ranked by df (read via ``read_termstats``).
    Only terms the query tokenizer maps to themselves are drawn, so no
    generated term is out of vocabulary."""

    def __init__(self, spark, index_dir: str, seed: int):
        from search_engine_spark.functions.tokenize import query_tokens_py
        from search_engine_spark.index.segments import read_termstats

        rows = read_termstats(spark, index_dir).select("term", "df").collect()
        self.df = {r.term: int(r.df) for r in rows}
        ranked = sorted(
            (t for t in self.df if query_tokens_py(t) == [t]),
            key=lambda t: (-self.df[t], t),
        )
        self.terms = np.array(ranked, dtype=object)
        w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_QUERY_S
        self.p = w / w.sum()
        self.rng = np.random.default_rng([seed, 101])

    def next(self) -> str:
        k = min(int(self.rng.integers(2, 7)), len(self.terms))
        return " ".join(self.rng.choice(self.terms, size=k, replace=False, p=self.p))

    def take(self, n: int) -> list[str]:
        return [self.next() for _ in range(n)]

    def profile(self, queries: list[str]) -> dict:
        """OOV fraction, in-lexicon terms per query and df per term."""
        from search_engine_spark.functions.tokenize import query_tokens_py

        toks = [sorted(set(query_tokens_py(q))) for q in queries]
        n_terms = sum(len(t) for t in toks)
        in_lex = [[t for t in ts if t in self.df] for ts in toks]
        n_in = sum(len(t) for t in in_lex)
        return {
            "queries": len(queries),
            "oov_frac": (n_terms - n_in) / n_terms if n_terms else 0.0,
            "terms_per_query": n_in / len(queries) if queries else 0.0,
            "df_per_term": (
                sum(self.df[t] for ts in in_lex for t in ts) / n_in if n_in else 0.0
            ),
            "postings_per_query": (
                sum(self.df[t] for ts in in_lex for t in ts) / len(queries)
                if queries else 0.0
            ),
        }


# --- result checks -------------------------------------------------------------


def ranked_rows(rows) -> dict[str, list[tuple]]:
    """{query_id: [(rank, url, score), ...]} sorted by rank."""
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r.query_id, []).append((int(r.rank), r.url, float(r.score)))
    return {q: sorted(v) for q, v in out.items()}


def same_ranking(a: list[tuple] | None, b: list[tuple] | None) -> bool:
    """Rank-identical (same url at every rank) with scores within 2e-6,
    the engine's own rank-identity criterion."""
    return a is not None and b is not None and len(a) == len(b) and all(
        ra == rb and ua == ub and abs(sa - sb) < 2e-6
        for (ra, ua, sa), (rb, ub, sb) in zip(a, b)
    )


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9) + 0.0
    return v


def norm_rows(rows) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in row) for row in rows)


def bm25_oracle(spark, pages_path: str, index_dir: str, queries: dict) -> dict:
    """Brute-force ``scoring.bm25_topk`` over the raw pages for
    ``queries`` ({query_id: query_string})."""
    from pyspark.sql import functions as F

    from search_engine_spark.functions.tokenize import query_tokens_py
    from search_engine_spark.index.build import build_postings, doc_lengths, term_stats
    from search_engine_spark.index.segments import load_stats
    from search_engine_spark.query.scoring import bm25_topk

    pages = spark.read.parquet(pages_path).select("url", "text")
    vocab = sorted({t for q in queries.values() for t in query_tokens_py(q)})
    postings = build_postings(pages).filter(F.col("term").isin(vocab))
    stats = load_stats(index_dir)
    qdf = spark.createDataFrame(
        sorted(queries.items()), "query_id string, query_string string"
    )
    rows = bm25_topk(
        qdf, postings, doc_lengths(pages), term_stats(postings, stats["n_docs"]),
        stats["avgdl"], k=TOP_K,
    ).collect()
    return ranked_rows(rows)


def build_metrics(spark, index_dir: str) -> tuple[float, int]:
    """(summed ``encode_secs``, postings) from the build's ``read_metrics``."""
    from pyspark.sql import functions as F

    from search_engine_spark.index.segments import read_metrics

    row = read_metrics(spark, index_dir).agg(
        F.sum("encode_secs"), F.sum("n_postings")
    ).collect()[0]
    return float(row[0] or 0.0), int(row[1] or 0)


def dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet") if p.is_file())


# --- workloads -------------------------------------------------------------------


def run_search(run) -> None:
    from search_engine_spark.index.segments import build_segments
    from search_engine_spark.query.wand import _local_query_rows, wand_topk
    from search_engine_spark.corpus import REFERENCE_QUERIES

    sz, tr = run.size, run.tracer
    pages_path = run.path("pages")
    idx = run.path("idx")
    with run.phase("setup"):
        spark = run.start_session()
        with tr.span("corpus.gen"):
            counts = write_pages(run, pages_path, sz["pages"])
        run.layer["corpus.pages"] = counts["pages"]
        run.layer["corpus.text_bytes"] = counts["text_bytes"]
        pages = spark.read.parquet(pages_path)
        # warm-up build: same call shape on a small slice, own directory
        with tr.span("index.build", rid="warmup"):
            build_segments(spark, pages.limit(sz["warm_pages"]), run.path("warm_idx"),
                           n_buckets=sz["buckets"], run_id="warmup")
        run.warmup("index.build", 1)
        t0 = time.perf_counter()
        with tr.span("index.build", rid="build"), run.phase_log():
            build_segments(spark, pages, idx, n_buckets=sz["buckets"], run_id="search")
        build_s = run.bulk(t0, counts["pages"])
        with tr.span("index.read_metrics"):
            run.layer["index.encode_s"], run.layer["index.postings"] = build_metrics(spark, idx)
        seg_bytes = dir_bytes(f"{idx}/index")
        run.layer["index.segment_bytes"] = seg_bytes
        with tr.span("query.lexicon"):
            gen = QueryGen(spark, idx, run.seed)
        # first call on the fresh index builds the serving state
        with tr.span("query.first_call"):
            wand_topk(spark, idx, [("warm-0", gen.next())]).collect()
        for i in range(1, sz["warm_single"]):
            with tr.span("query.call", rid=f"warm-{i}"):
                wand_topk(spark, idx, [(f"warm-{i}", gen.next())]).collect()
        run.warmup("single", sz["warm_single"])
        batches_warm = []
        for i in range(sz["warm_batches"]):
            bdf = _batch_df(spark, [(f"wb{i}-{j}", q) for j, q in enumerate(gen.take(sz["batch"]))])
            batches_warm.append(_local_query_rows(bdf) is None)
            with tr.span("query.call", rid=f"wb{i}"):
                wand_topk(spark, idx, bdf).collect()
        run.warmup("batch", sz["warm_batches"])
    run.detail["batch_plan_path"] = all(batches_warm)
    run.layer["index.build_s"] = build_s
    run.layer["index.bytes_per_text_byte"] = seg_bytes / counts["text_bytes"]

    issued: dict[str, str] = {}
    answers: dict[str, list] = {}
    ops: list[tuple[str, list[str]]] = []  # (op id, its query ids)
    timed_queries = []
    with run.phase("single", share=0.55):
        i = 0
        while i < sz["min_single"] or not run.phase_over():
            qid, q = f"s{i:04d}", gen.next()
            issued[qid] = q
            timed_queries.append(q)
            t0 = time.perf_counter()
            with tr.span("query.call", rid=qid):
                with tr.span("query.plan"):
                    df = wand_topk(spark, idx, [(qid, q)])
                with tr.span("query.exec"):
                    rows = df.collect()
            run.op(t0)
            answers.update(ranked_rows(rows))
            ops.append((qid, [qid]))
            i += 1
    qps = []
    with run.phase("batch", share=0.45):
        j = 0
        while j < sz["min_batches"] or not run.phase_over():
            batch = [(f"b{j:03d}-{n:03d}", q) for n, q in enumerate(gen.take(sz["batch"]))]
            issued.update(batch)
            timed_queries.extend(q for _, q in batch)
            bdf = _batch_df(spark, batch)
            t0 = time.perf_counter()
            with tr.span("query.call", rid=f"b{j:03d}"):
                with tr.span("query.plan"):
                    df = wand_topk(spark, idx, bdf)
                with tr.span("query.exec"):
                    rows = df.collect()
            qps.append(len(batch) / (time.perf_counter() - t0))
            answers.update(ranked_rows(rows))
            ops.append((f"b{j:03d}", [qid for qid, _ in batch]))
            j += 1
    run.layer["search.batch_qps"] = statistics.median(qps)
    run.detail["batch_samples"] = len(qps)
    run.detail["queries"] = gen.profile(timed_queries)

    with run.phase("check"):
        refs = [(f"ref{n + 1:02d}", q) for n, q in enumerate(REFERENCE_QUERIES)]
        with tr.span("check.reference"):
            answers.update(ranked_rows(wand_topk(spark, idx, refs).collect()))
        issued.update(refs)
        with tr.span("check.oracle"):
            oracle = bm25_oracle(spark, pages_path, idx, issued)
        ops.append(("reference", [qid for qid, _ in refs]))
        run.corrupt_one(answers)
        for op, qids in ops:
            run.op_result(op, all(same_ranking(answers.get(q, []), oracle.get(q, []))
                                  for q in qids))


def _batch_df(spark, rows):
    """A query batch as a distributed relation (not a driver-local
    LocalRelation), so ``wand_topk`` takes its plan path."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), "query_id string, query_string string"
    )


def run_ingest(run) -> None:
    from search_engine_spark.index.segments import build_segments, load_stats
    from search_engine_spark.streaming.ingest import (
        compact_generations,
        list_generations,
        merge_generation_stats,
        query_generations,
    )

    sz, tr = run.size, run.tracer
    out = run.path("gens")
    n_gens, per_gen = sz["gens"], sz["gen_pages"]
    warm = run.path("warm_gens")
    with run.phase("setup"):
        spark = run.start_session()
        # one corpus pass: the timed generations, then the warm-up pages
        pages = n_gens * per_gen
        n_warm = sz["warm_gens"] * sz["warm_pages"]
        with tr.span("corpus.gen"):
            counts = write_pages(run, run.path("pages"), pages + n_warm, timed=pages)
        run.layer["corpus.pages"] = pages
        run.layer["corpus.text_bytes"] = text_bytes = counts["text_bytes"]
        all_pages = spark.read.parquet(run.path("pages"))
        # untimed warm-up of the generation build and stats merge (build
        # times keep falling over the first few builds of a session), then
        # of the query
        for g in range(sz["warm_gens"]):
            lo = pages + g * sz["warm_pages"]
            with tr.span("index.build", rid="warmup"):
                build_segments(spark, page_range(all_pages, lo, lo + sz["warm_pages"]),
                               f"{warm}/gen={g}", n_buckets=sz["buckets"],
                               run_id=f"stream-batch-{g}")
            with tr.span("ingest.merge_stats", rid="warmup"):
                merge_generation_stats(spark, warm)
        with tr.span("query.lexicon", rid="warmup"):
            warm_gen = QueryGen(spark, f"{warm}/gen=0", run.seed + 1)
        # the first call on a fresh index builds the serving state
        with tr.span("query.first_call"):
            query_generations(spark, warm, [("warm-0", warm_gen.next())],
                              global_stats=True).collect()
        run.warmup("generations", 2 * sz["warm_gens"] + 1)  # builds, merges, query
        run.warmup("compact", 0)

    build_times, live_gens, timed_queries = [], [], []
    answers: dict[str, list] = {}
    gen = None
    last_round: list[tuple[str, str]] = []

    def query(qid: str, q: str, round_: str) -> None:
        t0 = time.perf_counter()
        with tr.span("ingest.query", rid=qid):
            with tr.span("query.plan"):
                df = query_generations(spark, out, [(qid, q)], global_stats=True)
            with tr.span("query.exec"):
                rows = df.collect()
        run.op(t0, round_=round_)
        live_gens.append(len(list_generations(out)))
        timed_queries.append(q)
        answers.update(ranked_rows(rows))

    per_round = sz["per_round"]
    with run.phase("generations"):
        for g in range(n_gens):
            src = page_range(all_pages, g * per_gen, (g + 1) * per_gen)
            t0 = time.perf_counter()
            with tr.span("index.build", rid=f"gen-{g}"), run.phase_log():
                build_segments(spark, src, f"{out}/gen={g}", n_buckets=sz["buckets"],
                               run_id=f"stream-batch-{g}")
            build_times.append(run.bulk(t0, per_gen))
            with tr.span("ingest.merge_stats", rid=f"gen-{g}"):
                merge_generation_stats(spark, out)
            if gen is None:
                with tr.span("query.lexicon"):
                    gen = QueryGen(spark, f"{out}/gen=0", run.seed)
            last_round = [(f"g{g}-{i:03d}", gen.next()) for i in range(per_round)]
            for qid, q in last_round:
                query(qid, q, f"gens={g + 1}")
        seg_bytes = sum(dir_bytes(f"{g}/index") for g in list_generations(out))
        with tr.span("index.read_metrics"):
            for g in list_generations(out):
                encode_s, postings = build_metrics(spark, g)
                run.layer["index.encode_s"] = run.layer.get("index.encode_s", 0.0) + encode_s
                run.layer["index.postings"] = run.layer.get("index.postings", 0) + postings
    with run.phase("compact"):
        t0 = time.perf_counter()
        with tr.span("ingest.compact"):
            compacted = compact_generations(spark, out, n_buckets=sz["buckets"])
        compact_s = time.perf_counter() - t0
        for qid, q in last_round:  # the last round again, on the compacted index
            query(f"c-{qid}", q, "compacted")
    run.layer["index.build_s"] = sum(build_times)
    run.layer["index.bytes_per_text_byte"] = seg_bytes / text_bytes
    run.layer["index.segment_bytes"] = seg_bytes
    run.layer["ingest.gen_build_s"] = statistics.median(build_times)
    run.detail["gen_build_s"] = build_times
    run.detail["compact_s"] = compact_s
    run.layer["ingest.compact_s"] = compact_s
    run.layer["ingest.compact_docs_per_s"] = pages / compact_s
    run.layer["ingest.generations_per_query"] = statistics.mean(live_gens)
    run.detail["queries"] = gen.profile(timed_queries)

    with run.phase("check"), tr.span("check.compare"):
        run.corrupt_one(answers)
        for qid, _ in last_round:
            run.op_result(f"c-{qid}", same_ranking(answers.get(qid),
                                                    answers.get(f"c-{qid}")))
        for qid in answers:  # earlier rounds: a full, well-formed ranking
            if not qid.startswith("c-") and qid not in dict(last_round):
                ranks = [r for r, _, _ in answers[qid]]
                run.op_result(qid, ranks == list(range(1, len(ranks) + 1))
                              and 0 < len(ranks) <= TOP_K)
        n_docs = load_stats(compacted)["n_docs"]
        run.detail["compacted_n_docs"] = n_docs
        run.op_result("compact", n_docs == pages)


def run_curate(run) -> None:
    import duckdb

    from search_engine_spark.api_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES

    sz, tr = run.size, run.tracer
    sf, warm = run.path("sf"), run.path("sf_warm")
    with run.phase("setup"):
        spark = run.start_session()
        with tr.span("corpus.gen"):
            counts = write_documents(run, sf, sz["docs"])
            write_documents(run, warm, sz["warm_docs"], start=sz["docs"])
        docs = counts["pages"]
        run.layer["corpus.pages"] = docs
        run.layer["corpus.text_bytes"] = counts["text_bytes"]
        # The session's first Spark SQL jobs pay most of its cold cost, so
        # one gate on a small table takes it out of the timed gates. A
        # pass over all four would not fit the per-run time budget.
        with tr.span(f"pipeline.{CURATE_GATES[0]}", rid="warmup"):
            PIPELINE_QUERIES[CURATE_GATES[0]](spark, warm).collect()
        run.warmup("gates", 1)

    results = {}
    with run.phase("gates"):
        for gate in CURATE_GATES:
            with tr.span("pipeline.clear_cache"):
                spark.catalog.clearCache()
            run.detail["cache_clears"] = run.detail.get("cache_clears", 0) + 1
            t0 = time.perf_counter()
            with tr.span(f"pipeline.{gate}", rid=gate):
                results[gate] = PIPELINE_QUERIES[gate](spark, sf).collect()
            t1 = time.perf_counter()
            run.op(t0, t1)
            run.layer[f"pipeline.{gate}_s"] = run.bulk(t0, docs / len(CURATE_GATES), t1)
            run.layer[f"pipeline.{gate}_rows"] = len(results[gate])

    with run.phase("check"):
        with tr.span("check.oracle"):
            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                            f"read_parquet('{sf}/documents.parquet')")
                expected = {g: norm_rows(con.sql(PIPELINE_ORACLES[g]).fetchall())
                            for g in CURATE_GATES}
            finally:
                con.close()
        with tr.span("check.compare"):
            got = {g: norm_rows(map(tuple, rows)) for g, rows in results.items()}
            run.corrupt_one(got)
            for g in CURATE_GATES:
                run.op_result(g, bool(got[g]) and got[g] == expected[g])


WORKLOADS = {"search": run_search, "ingest": run_ingest, "curate": run_curate}
