"""Embedding-space operators over the embeddings table
(vec_id, embedding float[64], label): cosine near-dup pairs,
brute-force cosine top-k ANN, and a random-hyperplane-LSH bucketed
variant (the scale path).

Cross-engine float discipline: every dot product is a *sequential left
fold* — Spark ``F.aggregate(F.zip_with(...))`` and DuckDB
``list_reduce(list_transform(list_zip(...)))`` both fold left in index
order over doubles, so the two engines produce bit-identical sums (no
reassociation). Cosines are rounded to 6dp before ranking/thresholding;
rank ties break vec_id ASC.

The LSH hyperplanes are Rademacher (+-1) vectors derived from md5 in
*Python at module load* and embedded as literals in both the Spark
expressions and the oracle SQL — one source of truth, zero runtime
randomness.

Scale notes (100 TB / 10^9 vectors):
- Brute force is the correctness oracle: O(Q x N) with the query side
  broadcast — fine for small Q, the baseline for recall checks.
- The LSH path is the scale design: each vector maps to
  ``LSH_BANDS`` (band_idx, band_val) keys; candidate generation is an
  equi-join on those keys (shuffle partitioned by band value, never
  all-pairs). Band width trades recall for candidate count. At 10^9
  rows the table is bucketed by band key at write time — implemented
  in :func:`write_band_bucketed` / :func:`ann_lsh_topk_bucketed`
  (plain-parquet analog of Iceberg ``bucket(B, band_val)``), whose
  candidate scan partition-prunes instead of shuffling the corpus
  (plan-asserted in tests).
- All vector math is JVM higher-order array functions in whole-stage
  codegen — no UDF in any hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import round6_col as _round6

NEARDUP_MIN_COS = 0.3   # report threshold for near-dup pairs
ANN_K = 10              # neighbors returned per query
N_QUERIES = 10          # query vectors = vec_id < 10
LSH_PLANES = 16         # ANN sketch: hyperplanes (probe side is N_QUERIES
LSH_BANDS = 4           # broadcast rows, so narrow 4-bit bands stay linear)
EMB_DIM = 64

# Near-dup self-join sketch: deliberately WIDER than the ANN sketch.
# The near-dup candidate join is bands x sum(bucket^2) over band buckets;
# with 4-bit band values (16 keys) every bucket holds ~N/16 of the corpus
# and the join is Theta(N^2) — measured 17x at a 10x scale-up. 16-bit
# band values (65,536 keys) make bucket populations small and
# corpus-growth-linear, and NEARDUP_BAND_CAP bounds any residual hot
# band (boilerplate/clone clusters — exact-dedup territory) exactly like
# the MinHash path's BAND_CAP.
NEARDUP_PLANES = 128    # 8 bands x 16 bits
NEARDUP_BANDS = 8
NEARDUP_BAND_CAP = 100  # drop band values shared by more than this many vecs


def _plane_sign(p: int, d: int) -> int:
    """Deterministic Rademacher sign for hyperplane p, dimension d."""
    h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
    return (int(h[:15], 16) & 1) * 2 - 1


def _hyperplanes(planes: int) -> list[list[int]]:
    return [
        [_plane_sign(p, d) for d in range(EMB_DIM)] for p in range(planes)
    ]


HYPERPLANES: list[list[int]] = _hyperplanes(LSH_PLANES)


# --- Spark column kernels -------------------------------------------------


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (bit-identical to list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _vectors(embs: DataFrame) -> DataFrame:
    v = _as_double(F.col("embedding"))
    return embs.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        v.alias("v"),
        _norm(v).alias("nrm"),
    )


def cosine_neardup_pairs(docs_embs: DataFrame) -> DataFrame:
    """(vec_id_a, vec_id_b, cosine) — all pairs with cosine >= 0.3.

    Exact all-pairs (the oracle shape); the LSH path below is the
    sub-quadratic variant for the same semantics at scale.
    """
    n = _vectors(docs_embs)
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            _round6(
                _dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_MIN_COS)
    )


def cosine_neardup_lsh_pairs(docs_embs: DataFrame) -> DataFrame:
    """(vec_id_a, vec_id_b, cosine) — near-dup pairs at sub-quadratic cost.

    Candidate generation is the banded random-hyperplane LSH equi-join:
    pairs must share >= 1 of ``NEARDUP_BANDS`` 16-bit bands (the wide
    self-join sketch — see the constants block for why this is wider
    than the ANN sketch); every candidate is then re-checked with the
    exact cosine and reported iff cosine >= 0.3. Band values shared by
    more than ``NEARDUP_BAND_CAP`` vectors are dropped before the
    self-join — the same hot-bucket skew bound as the MinHash path (a
    hot band value means one quadratic task; clone clusters are exact
    dedup's job, not LSH's). Same semantics as
    :func:`cosine_neardup_pairs` restricted to band-colliding,
    cap-surviving pairs — this is the gated/scale shape (no cartesian
    plan anywhere: the only joins are the band equi-join and two id
    equi-joins back to the vector table). Recall on planted near-dups
    is measured in tests/test_pipeline_units.py; with 16-bit bands,
    recall is concentrated on genuinely-near pairs (cosine >~ 0.9) —
    the LSH design point — and mid-similarity pairs (~0.3-0.5) are
    mostly NOT candidates; the all-pairs version is the exhaustive
    oracle when that tail matters. At 10^9 rows the band join is a
    shuffle partitioned by (band_idx, band_val); write-time bucketing
    turns it into a co-located join — see :func:`write_band_bucketed`.
    """
    n = _vectors(docs_embs)
    sk = _sketch_bits(n, NEARDUP_PLANES, NEARDUP_BANDS).select(
        "vec_id", "band_idx", "band_val"
    )
    kept = sk.join(
        sk.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("bdf"))
        .filter(F.col("bdf") <= NEARDUP_BAND_CAP)
        .select("band_idx", "band_val"),
        ["band_idx", "band_val"],
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )
    va = n.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = n.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # Exact re-check stays a JVM projection: an Arrow-kernel variant was
    # measured SLOWER at the sf1 point (the candidate relation carries
    # both 64-dim vectors per pair, and shipping ~700 MB of Arrow
    # batches to Python costs more than the interpreted fold saves) —
    # the opposite trade from `_sketch_bits`, where the kernel input is
    # one vector per ROW, not per candidate pair.
    return (
        pairs.join(va, "vec_id_a")
        .join(vb, "vec_id_b")
        .select(
            "vec_id_a",
            "vec_id_b",
            _round6(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_MIN_COS)
    )


def _ranked_topk(scored: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "cosine")
    )


def ann_brute_topk(embs: DataFrame) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — exact cosine top-10 for query
    vectors vec_id < 10 against the whole table (self excluded)."""
    n = _vectors(embs)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            _round6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cosine"),
        )
    )
    return _ranked_topk(scored)


def _sketch_bits(
    n: DataFrame, planes: int = LSH_PLANES, bands: int = LSH_BANDS
) -> DataFrame:
    """(vec_id, v, nrm, band_idx, band_val) — LSH band keys per vector.

    ONE narrow Arrow pass computes all ``planes`` hyperplane projections
    (same rationale as :func:`_assign_cells`: the planes x 64
    literal-hyperplane higher-order-function form evaluates interpreted
    per row — measured as the dominant cost of every LSH gate at the
    sf1 scale point). Bit parity with the expression/SQL form is
    exact: projections accumulate in dimension order (the engines'
    sequential fold), the sign test applies the shared 6dp round +
    1e-9 epsilon, and band values pack the same little-endian
    ``planes // bands``-bit groups.
    """
    import numpy as np

    H = np.asarray(_hyperplanes(planes), dtype=np.float64)
    width = planes // bands

    def sketch(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(band_vals=pd.Series([], dtype=object))
                continue
            V = np.stack(pdf["v"].to_numpy())
            acc = np.zeros((len(pdf), planes))
            for d in range(H.shape[1]):
                acc += V[:, d, None] * H[None, :, d]
            bits = (np.round(acc + 1e-9, 6) > 0).astype(np.int64)
            vals = np.zeros((len(pdf), bands), dtype=np.int64)
            for b in range(bands):
                for j in range(width):
                    vals[:, b] |= bits[:, b * width + j] << j
            yield pdf.assign(band_vals=list(vals))

    sk = n.mapInPandas(
        sketch,
        schema="vec_id long, v array<double>, nrm double, "
               "band_vals array<bigint>",
    )
    return sk.select(
        "vec_id",
        "v",
        "nrm",
        F.posexplode("band_vals").alias("band_idx", "band_val"),
    ).withColumn("band_val", F.col("band_val").cast("int"))


def ann_lsh_topk(embs: DataFrame) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — LSH-bucketed ANN: candidates
    share >= 1 of 4 4-bit random-hyperplane bands with the query, then
    exact cosine re-rank to top-10. Same output shape as brute force;
    recall < 1 by design (measured in tests, not asserted equal)."""
    n = _vectors(embs)
    sk = _sketch_bits(n)
    qsk = sk.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("band_idx").alias("qb"),
        F.col("band_val").alias("qval"),
    )
    cand = (
        F.broadcast(qsk)
        .join(
            sk,
            on=[
                F.col("qb") == F.col("band_idx"),
                F.col("qval") == F.col("band_val"),
                F.col("query_id") != F.col("vec_id"),
            ],
        )
        .select("query_id", "qv", "qn", "vec_id", "v", "nrm")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        _round6(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cosine"),
    )
    return _ranked_topk(scored)


# --- DuckDB oracle SQL ----------------------------------------------------

_SQL_DOT = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}, {b}), x -> x[1] * x[2])), (acc, v) -> acc + v)"
)


def _sql_dot(a: str, b: str) -> str:
    return _SQL_DOT.format(a=a, b=b)


_SQL_VECTORS = rf"""
n AS (
    SELECT vec_id::BIGINT AS vec_id, embedding::DOUBLE[] AS v,
           sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
    FROM embeddings
)"""

SQL_ANN_BRUTE_TOPK = rf"""
WITH {_SQL_VECTORS},
scored AS (
    SELECT q.vec_id AS query_id, n.vec_id,
           round({_sql_dot('q.v', 'n.v')} / (q.nrm * n.nrm) + 1e-9, 6) AS cosine
    FROM n q JOIN n ON q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC)::INTEGER AS rank,
           vec_id, cosine
    FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {ANN_K}
"""


def _sql_plane_literal(p: int) -> str:
    # per-sign generation: the old _hyperplanes(p + 1)[p] form rebuilt
    # the whole matrix up to p for EVERY plane — O(planes^2 x dim) md5
    # calls (~0.5 s of import time at 128 planes), paid by every
    # process that imports this module incl. each Python worker
    return (
        "["
        + ", ".join(f"{float(_plane_sign(p, d))}" for d in range(EMB_DIM))
        + "]"
    )


def _sql_bits(planes: int) -> str:
    return ",\n           ".join(
        f"(round({_sql_dot('v', _sql_plane_literal(p))} + 1e-9, 6) > 0)::INTEGER AS bit{p}"
        for p in range(planes)
    )


def _sql_band_vals(planes: int, bands: int) -> str:
    w = planes // bands
    return ", ".join(
        "(" + " + ".join(f"bit{b * w + j} * {1 << j}" for j in range(w)) + ")"
        for b in range(bands)
    )


SQL_ANN_LSH_TOPK = rf"""
WITH {_SQL_VECTORS},
bits AS (
    SELECT vec_id, v, nrm,
           {_sql_bits(LSH_PLANES)}
    FROM n
),
sk AS (
    SELECT vec_id, v, nrm,
           unnest([{_sql_band_vals(LSH_PLANES, LSH_BANDS)}]) AS band_val,
           generate_subscripts([{", ".join("1" for _ in range(LSH_BANDS))}], 1) - 1
               AS band_idx
    FROM bits
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn,
           s.vec_id, s.v, s.nrm
    FROM sk q JOIN sk s
      ON q.band_idx = s.band_idx AND q.band_val = s.band_val
     AND q.vec_id < {N_QUERIES} AND q.vec_id <> s.vec_id
),
scored AS (
    SELECT query_id, vec_id,
           round({_sql_dot('qv', 'v')} / (qn * nrm) + 1e-9, 6) AS cosine
    FROM cand
),
ranked AS (
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC)::INTEGER AS rank,
           vec_id, cosine
    FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {ANN_K}
"""

SQL_COSINE_NEARDUP_LSH_PAIRS = rf"""
WITH {_SQL_VECTORS},
bits AS (
    SELECT vec_id, v, nrm,
           {_sql_bits(NEARDUP_PLANES)}
    FROM n
),
sk AS (
    SELECT vec_id,
           unnest([{_sql_band_vals(NEARDUP_PLANES, NEARDUP_BANDS)}]) AS band_val,
           generate_subscripts([{", ".join("1" for _ in range(NEARDUP_BANDS))}], 1) - 1
               AS band_idx
    FROM bits
),
kept AS (
    SELECT sk.* FROM sk
    JOIN (SELECT band_idx, band_val FROM sk GROUP BY 1, 2
          HAVING count(*) <= {NEARDUP_BAND_CAP}) k USING (band_idx, band_val)
),
pairs AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM kept a JOIN kept b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.vec_id < b.vec_id
)
SELECT id_a AS vec_id_a, id_b AS vec_id_b,
       round({_sql_dot('x.v', 'y.v')} / (x.nrm * y.nrm) + 1e-9, 6) AS cosine
FROM pairs JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
WHERE round({_sql_dot('x.v', 'y.v')} / (x.nrm * y.nrm) + 1e-9, 6)
      >= {NEARDUP_MIN_COS}
"""


# --- IVF (inverted-file) ANN ----------------------------------------------

IVF_CELLS = 16   # coarse-quantizer cells (centroids)
IVF_NPROBE = 4   # cells probed per query


def _collect_centroids(n: DataFrame) -> list[tuple[int, list[float], float]]:
    """[(cell_id, centroid_vector, centroid_norm)] for the coarse quantizer.

    Centroids are the first ``IVF_CELLS`` vectors by vec_id — a
    deterministic sample (standard practice seeds k-means from a sample;
    the assignment-only quantizer keeps the oracle SQL exact). They are
    collected driver-side ONCE and embedded in the plan as expression
    literals — exactly how a trained IVF coarse quantizer ships to
    executors (16 x 64 doubles = 8 KB), the same pattern as the LSH
    ``HYPERPLANES`` literals above. At 10^9 rows this collect is a
    16-row pushed-down filter scan, not a data-dependent shuffle.
    """
    rows = (
        n.filter(F.col("vec_id") < IVF_CELLS)
        .select("vec_id", "v", "nrm")
        .orderBy("vec_id")
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.v], float(r.nrm)) for r in rows]


def _fold_cosine6(
    qv: list[float], qn: float, cv: list[float], cn: float
) -> float:
    """Rounded cosine of two driver-side vectors, operation-for-operation
    identical to the engines' sequential-left-fold ``_dot`` + the shared
    1e-9 pre-round epsilon (Python floats ARE IEEE doubles, so the
    scalar loop reproduces ``((0 + x0) + x1) + ...`` exactly)."""
    import numpy as np

    acc = 0.0
    for a, b in zip(qv, cv):
        acc += a * b
    return float(np.round(acc / (qn * cn) + 1e-9, 6))


def _assign_cells(
    n: DataFrame, cents: list[tuple[int, list[float], float]]
) -> DataFrame:
    """(vec_id, v, nrm, cell_id) — zero-shuffle cell assignment.

    ONE narrow ``mapInPandas`` pass: each Arrow batch computes its rows'
    ``IVF_CELLS`` cosines against the closure-captured centroid matrix
    (16 x 64 doubles — exactly how a trained coarse quantizer ships to
    executors) and argmaxes with numpy. No join, no Exchange, no row
    amplification (no-Exchange plan asserted in
    tests/test_pipeline_units.py); the round-2 form cross-joined 16
    centroids then shuffled 16N embedding-bearing rows through a window.

    Oracle parity is preserved operation-for-operation:
    - the dot products accumulate in dimension order
      (``acc += V[:, d] * C[:, d]`` for d = 0..63), i.e. the identical
      IEEE sequence ``((0 + x0) + x1) + ...`` as the engines'
      sequential-left-fold ``_dot``;
    - rounding uses the shared 1e-9 pre-round epsilon (see
      ``round6_col``), which moves every value off the decimal halfway
      ties where numpy (half-even), Spark (HALF_UP) and DuckDB disagree;
    - ``np.argmax`` returns the FIRST max, so ties break to the lower
      cell_id — the oracle window's (ccos DESC, cell_id ASC) order.

    Why not pure JVM expressions: a 16 x 64-term literal arithmetic form
    was measured first — whole-stage codegen fails to compile the ~1k
    node method and falls back to per-row interpreted eval (~60 us/row);
    this vectorized Arrow kernel is ~100x cheaper per row and keeps the
    same narrow, pushdown-friendly plan shape.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray([cv for _, cv, _ in cents], dtype=np.float64)
    cn = np.asarray([x for _, _, x in cents], dtype=np.float64)
    cell_ids = np.asarray([cid for cid, _, _ in cents], dtype=np.int32)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell_id=pd.Series([], dtype="int32"))
                continue
            V = np.stack(pdf["v"].to_numpy())
            acc = np.zeros((len(pdf), len(cn)))
            for d in range(C.shape[1]):
                acc += V[:, d, None] * C[None, :, d]
            cos = np.round(
                acc / (pdf["nrm"].to_numpy()[:, None] * cn[None, :]) + 1e-9,
                6,
            )
            yield pdf.assign(cell_id=cell_ids[np.argmax(cos, axis=1)])

    return n.mapInPandas(
        assign, schema="vec_id long, v array<double>, nrm double, cell_id int"
    )


def _probe_cells_local(
    queries: list[tuple[int, list[float], float]],
    cents: list[tuple[int, list[float], float]],
) -> list[tuple[int, list[float], float, int]]:
    """[(query_id, qv, qn, cell_id)] — each query's IVF_NPROBE nearest
    cells, computed DRIVER-side.

    The coarse quantizer of an IVF serving system runs wherever the
    query batch lives: for a small batch that is the driver/client, with
    zero cluster jobs (the 16-cell centroid sample is already collected).
    Cosines use :func:`_fold_cosine6` (exact fold-order + epsilon-round
    parity with the oracle); top-NPROBE selection orders by
    (ccos DESC, cell_id ASC) — the oracle window's key. A large query
    *table* would instead reuse :func:`_assign_cells`'s Arrow kernel on
    the query DataFrame (same kernel, nprobe-slice instead of argmax).
    """
    out = []
    for qid, qv, qn in queries:
        ranked = sorted(
            ((-_fold_cosine6(qv, qn, cv, cn), cid) for cid, cv, cn in cents),
        )[:IVF_NPROBE]
        out.extend((qid, qv, qn, cid) for _, cid in ranked)
    return out


def ann_ivf_topk(embs: DataFrame) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — IVF ANN: queries probe their
    ``IVF_NPROBE`` nearest cells, candidates are the vectors assigned to
    those cells, exact cosine re-rank to top-10. Deterministic end to
    end (sample centroids, 6dp-rounded scores, cell_id/vec_id ASC
    tie-breaks) so the DuckDB oracle matches exactly; recall < 1 by
    design (measured vs brute force in tests).

    Scale shape: assignment is a single zero-shuffle scan
    (:func:`_assign_cells`); at write time ``cell_id`` becomes the
    table's partition key (Iceberg identity partition — demonstrated in
    :func:`write_cell_partitioned` below), so the probe join prunes
    partitions instead of scanning. Probe-cell selection for the small
    query batch runs driver-side (:func:`_probe_cells_local`) — no
    cluster job, exactly where an IVF serving system runs its coarse
    quantizer. The only shuffles left are the broadcast-probe candidate
    join (probe side is tiny) and the final per-query top-k."""
    n = _vectors(embs)
    cents = _collect_centroids(n)
    assigned = _assign_cells(n, cents)
    # the query vectors (vec_id < N_QUERIES) are a prefix of the
    # collected centroid sample (vec_id < IVF_CELLS >= N_QUERIES), so
    # the probe computation needs no further scan
    queries = [(cid, cv, cn) for cid, cv, cn in cents if cid < N_QUERIES]
    probes = embs.sparkSession.createDataFrame(
        _probe_cells_local(queries, cents),
        schema="query_id long, qv array<double>, qn double, cell_id int",
    )
    cand = (
        F.broadcast(probes)
        .join(assigned, "cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", "qn", "vec_id", "v", "nrm")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        _round6(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        ).alias("cosine"),
    )
    return _ranked_topk(scored)


SQL_ANN_IVF_TOPK = rf"""
WITH {_SQL_VECTORS},
cents AS (
    SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM n
    WHERE vec_id < {IVF_CELLS}
),
assigned AS (
    SELECT vec_id, v, nrm, cell_id FROM (
        SELECT n.vec_id, n.v, n.nrm, c.cell_id,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY round({_sql_dot('n.v', 'c.cv')} / (n.nrm * c.cn)
                                  + 1e-9, 6) DESC,
                            c.cell_id ASC
               ) AS rk
        FROM n CROSS JOIN cents c
    ) WHERE rk = 1
),
probes AS (
    SELECT query_id, qv, qn, cell_id FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cell_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_sql_dot('q.v', 'c.cv')} / (q.nrm * c.cn)
                                  + 1e-9, 6) DESC,
                            c.cell_id ASC
               ) AS rk
        FROM n q CROSS JOIN cents c
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rk <= {IVF_NPROBE}
),
scored AS (
    SELECT p.query_id, a.vec_id,
           round({_sql_dot('p.qv', 'a.v')} / (p.qn * a.nrm) + 1e-9, 6)
               AS cosine
    FROM probes p JOIN assigned a USING (cell_id)
    WHERE p.query_id <> a.vec_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC)::INTEGER AS rank,
           vec_id, cosine
    FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {ANN_K}
"""


# --- write-time bucketed layouts (the co-located-join story, in code) -----
#
# The scale notes above say "at 10^9 rows you'd bucket the table by band
# key at write time (Iceberg ``bucket(B, band_val)``) so queries prune
# partitions instead of shuffling the corpus". These functions ARE that
# layout, on plain parquet: the Iceberg ``bucket(B, col)`` partition
# transform is a pmod-of-deterministic-hash, which parquet's hive-style
# ``partitionBy`` reproduces exactly when both the writer and every
# reader derive the bucket with the same expression. Tests assert the
# candidate scans carry PartitionFilters (partition pruning, not a full
# read) and return results identical to the unbucketed operators.

BAND_BUCKETS = 8   # bucket(B, band_val); B sized so ~2 band values/bucket
                   # at the 4-bit band width — at 10^9 rows you'd use 4k+


def band_bucket_col(band_val: Column, n_buckets: int = BAND_BUCKETS) -> Column:
    """bucket(B, band_val): pmod(xxhash64(band_val), B) — the writer and
    all probe sides derive the bucket from this one expression."""
    return F.pmod(F.xxhash64(band_val), F.lit(n_buckets)).cast("int")


def write_band_bucketed(
    embs: DataFrame, path: str, n_buckets: int = BAND_BUCKETS
) -> None:
    """Materialize the LSH sketch table partitioned by
    ``(band_idx, band_bucket)`` — write-time band bucketing.

    Layout: ``band_idx=i/band_bucket=j/*.parquet``; on Iceberg the same
    table is ``PARTITIONED BY (band_idx, bucket(B, band_val))``. A
    candidate join that knows its probe band keys derives the same
    buckets and scans ONLY those partitions (see
    :func:`ann_lsh_topk_bucketed`)."""
    sk = _sketch_bits(_vectors(embs)).select(
        "vec_id", "v", "nrm", "band_val", "band_idx"
    )
    (
        sk.withColumn("band_bucket", band_bucket_col(F.col("band_val"), n_buckets))
        .repartition("band_idx", "band_bucket")
        .write.partitionBy("band_idx", "band_bucket")
        .mode("overwrite")
        .parquet(path)
    )


def ann_lsh_topk_bucketed(
    spark, path: str, n_buckets: int = BAND_BUCKETS
) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — :func:`ann_lsh_topk` served
    from the write-time-bucketed sketch table with partition-pruned
    candidate scans (result-identical; asserted in tests).

    Steps: (1) read the query rows (vec_id < N_QUERIES — a tiny pushed
    filter scan); (2) ONE driver round-trip for the distinct
    (band_idx, band_bucket) probe partitions — at most
    N_QUERIES x LSH_BANDS pairs, independent of corpus size; (3) the
    candidate scan filters on those literal partition values, so the
    FileSourceScan's PartitionFilters prune to the probed partitions
    (plan-asserted in tests) — the co-located-join promise of write-time
    bucketing, kept without shuffling the corpus."""
    sk = spark.read.parquet(path)
    qsk = sk.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("band_idx").alias("qb"),
        F.col("band_val").alias("qval"),
        F.col("band_bucket").alias("qbucket"),
    )
    probe_parts = sorted(
        {(r.qb, r.qbucket) for r in qsk.select("qb", "qbucket").collect()}
    )
    # OR-of-ANDs on the two partition columns — the shape the file-source
    # partition pruner folds into PartitionFilters (a struct-isin is not
    # recognized as a partition predicate)
    import functools

    part_pred = functools.reduce(
        lambda acc, bj: acc
        | ((F.col("band_idx") == bj[0]) & (F.col("band_bucket") == bj[1])),
        probe_parts[1:],
        (F.col("band_idx") == probe_parts[0][0])
        & (F.col("band_bucket") == probe_parts[0][1]),
    )
    cand = (
        F.broadcast(qsk)
        .join(
            sk.filter(part_pred),
            on=[
                F.col("qb") == F.col("band_idx"),
                F.col("qval") == F.col("band_val"),
                F.col("query_id") != F.col("vec_id"),
            ],
        )
        .select("query_id", "qv", "qn", "vec_id", "v", "nrm")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        _round6(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        ).alias("cosine"),
    )
    return _ranked_topk(scored)


def write_cell_partitioned(embs: DataFrame, path: str) -> None:
    """Materialize the IVF-assigned vector table partitioned by
    ``cell_id`` (Iceberg identity partition): ``cell_id=k/*.parquet``.
    The probe join then reads only the probed cells' partitions
    (:func:`ann_ivf_topk_partitioned`)."""
    n = _vectors(embs)
    cents = _collect_centroids(n)
    (
        _assign_cells(n, cents)
        .repartition("cell_id")
        .write.partitionBy("cell_id")
        .mode("overwrite")
        .parquet(path)
    )


def ann_ivf_topk_partitioned(spark, path: str) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — :func:`ann_ivf_topk` served
    from the cell-partitioned table: probe cells are computed driver-side
    from the centroid sample (pushed-filter scan of 16 rows), and the
    candidate scan's PartitionFilters prune to the probed cells —
    reading IVF_NPROBE x N_QUERIES distinct cells of the corpus, not all
    of it (plan-asserted; result-identical to :func:`ann_ivf_topk`)."""
    assigned = spark.read.parquet(path)
    cents = [
        (int(r.vec_id), [float(x) for x in r.v], float(r.nrm))
        for r in assigned.filter(F.col("vec_id") < IVF_CELLS)
        .select("vec_id", "v", "nrm")
        .orderBy("vec_id")
        .collect()
    ]
    queries = [(cid, cv, cn) for cid, cv, cn in cents if cid < N_QUERIES]
    probe_rows = _probe_cells_local(queries, cents)
    probes = spark.createDataFrame(
        probe_rows,
        schema="query_id long, qv array<double>, qn double, cell_id int",
    )
    probed_cells = sorted({cid for *_, cid in probe_rows})
    cand = (
        F.broadcast(probes)
        .join(assigned.filter(F.col("cell_id").isin(probed_cells)), "cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", "qn", "vec_id", "v", "nrm")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        _round6(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        ).alias("cosine"),
    )
    return _ranked_topk(scored)


# --- scalar-quantized (int8) ANN ------------------------------------------

SQ_LEVELS = 255        # codes 0..255 (uint8 range)
SQ_OVERSAMPLE = 4      # approx top-(k*OVERSAMPLE) candidates, exact re-rank


def _collect_dim_stats(n: DataFrame) -> tuple[list[float], list[float]]:
    """(mins, scales) per dimension for the scalar quantizer — one
    aggregation job collapsing the corpus to 2 x 64 doubles (the
    quantizer's codebook; ships to executors in a closure exactly like
    the IVF centroids). min/max are exact (no arithmetic), so the
    oracle recomputing them in SQL gets bit-identical values."""
    aggs = []
    for i in range(1, EMB_DIM + 1):
        aggs.append(F.min(F.element_at("v", i)).alias(f"mn{i}"))
        aggs.append(F.max(F.element_at("v", i)).alias(f"mx{i}"))
    row = n.agg(*aggs).collect()[0]
    mins = [float(row[f"mn{i}"]) for i in range(1, EMB_DIM + 1)]
    maxs = [float(row[f"mx{i}"]) for i in range(1, EMB_DIM + 1)]
    scales = [
        (SQ_LEVELS / (mx - mn)) if mx > mn else 0.0
        for mn, mx in zip(mins, maxs)
    ]
    return mins, scales


def ann_sq_topk(embs: DataFrame) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — scalar-quantized ANN: the
    corpus compresses to one uint8 code per dimension (8x smaller than
    float64), approximate scores rank candidates from the codes alone,
    and the top ``ANN_K * SQ_OVERSAMPLE`` per query are exactly
    re-ranked. The compression/recall trade is measured in tests
    against brute force.

    Scale shape: quantization is one narrow Arrow pass (codes live
    beside the vector the way a serving system stores them — at 100 TB
    only the code column is scanned for candidate generation, 8x less
    IO); candidate scoring is the same narrow pass with the 10
    full-precision queries in the closure (asymmetric SQ: query side
    unquantized, corpus side dequantized); only the tiny
    (query, vec_id, approx) relation shuffles for the per-query top-M.

    Oracle parity: min/max are exact; quantize =
    ``clamp(round((x - min) * scale + 1e-9), 0, 255)`` with the shared
    pre-round epsilon; dequantized dot products accumulate in dimension
    order (the engines' sequential fold); approx scores round to 6dp
    before the (approx DESC, vec_id ASC) cut, so both engines select
    the identical candidate set; the exact re-rank is the shared
    ``_dot``/6dp path."""
    import numpy as np

    n = _vectors(embs)
    mins_l, scales_l = _collect_dim_stats(n)
    mins = np.asarray(mins_l)
    scales = np.asarray(scales_l)
    qrows = (
        n.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "v", "nrm")
        .orderBy("vec_id")
        .collect()
    )
    qids = np.asarray([int(r.vec_id) for r in qrows])
    Q = np.asarray([[float(x) for x in r.v] for r in qrows])

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"query_id": pd.Series([], dtype="int64"),
                     "vec_id": pd.Series([], dtype="int64"),
                     "approx": pd.Series([], dtype="float64")}
                )
                continue
            V = np.stack(pdf["v"].to_numpy())
            codes = np.clip(
                np.round((V - mins[None, :]) * scales[None, :] + 1e-9),
                0, SQ_LEVELS,
            )
            # asymmetric dequantized dot, accumulated in dim order
            deq_scale = np.where(scales > 0, 1.0 / np.where(scales > 0, scales, 1.0), 0.0)
            acc = np.zeros((len(pdf), len(qids)))
            for d in range(EMB_DIM):
                deq_d = codes[:, d] * deq_scale[d] + mins[d]
                acc += deq_d[:, None] * Q[None, :, d]
            approx = np.round(acc + 1e-9, 6)
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = pd.DataFrame({
                "query_id": np.repeat(qids, len(pdf)),
                "vec_id": np.tile(vec_ids, len(qids)),
                "approx": approx.T.reshape(-1),
            })
            yield out

    scored = n.mapInPandas(
        score, schema="query_id long, vec_id long, approx double"
    ).filter(F.col("query_id") != F.col("vec_id"))

    from pyspark.sql import Window

    wnd = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("vec_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(wnd))
        .filter(F.col("crank") <= ANN_K * SQ_OVERSAMPLE)
        .select("query_id", "vec_id")
    )
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    exact = (
        cand.join(n, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            _round6(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    return _ranked_topk(exact)


SQL_ANN_SQ_TOPK = rf"""
WITH {_SQL_VECTORS},
stats AS (
    SELECT {", ".join(
        f"min(v[{i}]) AS mn{i}, max(v[{i}]) AS mx{i}"
        for i in range(1, EMB_DIM + 1)
    )}
    FROM n
),
codebook AS (
    SELECT [{", ".join(f"mn{i}" for i in range(1, EMB_DIM + 1))}] AS mins,
           [{", ".join(
               f"CASE WHEN mx{i} > mn{i} THEN {SQ_LEVELS} / (mx{i} - mn{i}) "
               f"ELSE 0.0 END"
               for i in range(1, EMB_DIM + 1)
           )}] AS scales
    FROM stats
),
codes AS (
    SELECT vec_id, v, nrm,
           list_transform(
               list_zip(v, mins, scales),
               x -> greatest(0.0, least({SQ_LEVELS}.0,
                    round((x[1] - x[2]) * x[3] + 1e-9)))
           ) AS code
    FROM n CROSS JOIN codebook
),
deq AS (
    SELECT vec_id,
           list_transform(
               list_zip(code, mins, scales),
               x -> x[1] * (CASE WHEN x[3] > 0 THEN 1.0 / x[3] ELSE 0.0 END)
                    + x[2]
           ) AS dv
    FROM codes CROSS JOIN codebook
),
approx AS (
    SELECT q.vec_id AS query_id, d.vec_id,
           round({_sql_dot('d.dv', 'q.v')} + 1e-9, 6) AS approx
    FROM n q JOIN deq d ON q.vec_id < {N_QUERIES} AND q.vec_id <> d.vec_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, vec_id ASC) AS crank
        FROM approx
    ) WHERE crank <= {ANN_K * SQ_OVERSAMPLE}
),
exact AS (
    SELECT c.query_id, c.vec_id,
           round({_sql_dot('q.v', 'x.v')} / (q.nrm * x.nrm) + 1e-9, 6)
               AS cosine
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_id
    JOIN n q ON q.vec_id = c.query_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC)::INTEGER AS rank,
           vec_id, cosine
    FROM exact
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {ANN_K}
"""


# --- product-quantized (PQ) ANN -------------------------------------------

PQ_M = 8                       # subspaces
PQ_SUB = EMB_DIM // PQ_M       # dims per subspace
PQ_K = 16                      # codewords per subspace codebook
PQ_OVERSAMPLE = 4              # approx top-(k*OVERSAMPLE), exact re-rank


def _collect_pq_codebook(n: DataFrame) -> tuple:
    """(C, code_ids, V): C[m][j] = codeword j of subspace m (PQ_SUB
    doubles); V is the raw (PQ_K, EMB_DIM) sample matrix so callers can
    slice query vectors out of the SAME collect (N_QUERIES <= PQ_K)
    instead of running a second 10-row job.

    Codewords are the sub-vectors of the first ``PQ_K`` vectors by
    vec_id — the same deterministic-sample quantizer as the IVF coarse
    centroids (production PQ runs per-subspace k-means seeded from such
    a sample; assignment-only keeps the DuckDB oracle exact). The whole
    codebook is M x K x PQ_SUB = 8 KB of doubles, collected once and
    shipped in the kernel closure exactly like a trained FAISS codebook
    ships to search workers."""
    import numpy as np

    rows = (
        n.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "v")
        .orderBy("vec_id")
        .collect()
    )
    V = np.asarray([[float(x) for x in r.v] for r in rows])
    code_ids = np.asarray([int(r.vec_id) for r in rows])
    C = np.stack(
        [V[:, m * PQ_SUB:(m + 1) * PQ_SUB] for m in range(PQ_M)]
    )  # (M, K, SUB)
    return C, code_ids, V


def _pq_decode_scores(V, C, Q):
    """(len(V) x len(Q)) approximate-score matrix from PQ codes — the
    ONE decode-then-dot implementation shared by :func:`ann_pq_topk`
    and :func:`ann_ivfpq_topk`, so the parity-critical fold order,
    argmin tie rule and 1e-9/6dp rounding can never diverge between
    the two gates. Per subspace: accumulate (v_d - c_d)^2 in dimension
    order, round, argmin (first min = dist ASC, code_id ASC); decode to
    the codeword; then fold the decoded dot over all dims in order and
    round — each step the oracle's left-assoc SQL, operation for
    operation."""
    import numpy as np

    DV = np.empty_like(V)
    for m in range(PQ_M):
        Vm = V[:, m * PQ_SUB:(m + 1) * PQ_SUB]
        dist = np.zeros((len(V), C.shape[1]))
        for d in range(PQ_SUB):
            diff = Vm[:, d, None] - C[m, None, :, d]
            dist += diff * diff
        codes_m = np.argmin(np.round(dist + 1e-9, 6), axis=1)
        DV[:, m * PQ_SUB:(m + 1) * PQ_SUB] = C[m][codes_m]
    acc = np.zeros((len(V), Q.shape[0]))
    for d in range(EMB_DIM):
        acc += DV[:, d, None] * Q[None, :, d]
    return np.round(acc + 1e-9, 6)


def _pq_exact_rerank(
    n: DataFrame, scored: DataFrame, oversample: int
) -> DataFrame:
    """Shared tail of the PQ family: per-query candidate cut at
    ``ANN_K * oversample`` on (approx DESC, vec_id ASC) — WindowGroupLimit
    partial-limits it map-side — then exact ``_dot``/6dp cosine re-rank
    against the broadcast full-precision queries."""
    from pyspark.sql import Window

    wnd = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("vec_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(wnd))
        .filter(F.col("crank") <= ANN_K * oversample)
        .select("query_id", "vec_id")
    )
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    exact = (
        cand.join(n, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            _round6(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    return _ranked_topk(exact)


def ann_pq_topk(embs: DataFrame) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — product-quantized ANN: each
    vector compresses to ``PQ_M`` 4-bit codes (one codeword index per
    subspace; 64 float64s -> 4 bytes, a 128x compression), approximate
    scores rank candidates from the decoded codewords alone, and the
    top ``ANN_K * PQ_OVERSAMPLE`` per query are exactly re-ranked.
    Completes the ANN family (brute / LSH / IVF / SQ / PQ); IVF x PQ is
    the canonical billion-vector serving layout (cell partitions prune
    the scan — :func:`write_cell_partitioned` — and PQ codes shrink
    what's left).

    Scale shape: encoding + approximate scoring is ONE narrow Arrow
    pass over the corpus — the codebook and the 10 full-precision query
    vectors ride in the closure, so there is no join and no row
    amplification; only the tiny (query, vec_id, approx) relation
    shuffles for the per-query candidate cut (WindowGroupLimit
    partial-limits it map-side). At 10^9 vectors a serving system scans
    the 4-byte codes column only — 128x less IO than the float column —
    and uses the per-query LUT form of the same math (LUT[m][j] =
    dot(q_sub[m], C[m][j]), approx = sum_m LUT[m][code[m]]); the kernel
    here computes decode-then-dot, which is the identical fold in a
    different loop order, chosen because the DuckDB oracle can express
    it exactly.

    Oracle parity, operation for operation: sub-distances accumulate
    (a_d - b_d)^2 in dimension order and round to 6dp with the shared
    1e-9 pre-round epsilon before the argmin (np.argmin takes the FIRST
    min = the oracle window's dist ASC, code_id ASC); the decoded dot
    accumulates over all 64 dims in order (the engines' sequential left
    fold); approx rounds to 6dp before the (approx DESC, vec_id ASC)
    candidate cut, so both engines pick the identical candidate set;
    the exact re-rank is the shared ``_dot``/6dp cosine path."""
    import numpy as np

    n = _vectors(embs)
    C, code_ids, V16 = _collect_pq_codebook(n)
    # queries are vec_id < N_QUERIES <= PQ_K: slice them from the same
    # 16-row collect instead of running a second driver job
    qsel = code_ids < N_QUERIES
    qids = code_ids[qsel].astype(np.int64)
    Q = V16[qsel]

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"query_id": pd.Series([], dtype="int64"),
                     "vec_id": pd.Series([], dtype="int64"),
                     "approx": pd.Series([], dtype="float64")}
                )
                continue
            V = np.stack(pdf["v"].to_numpy())
            approx = _pq_decode_scores(V, C, Q)
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame({
                "query_id": np.repeat(qids, len(pdf)),
                "vec_id": np.tile(vec_ids, len(qids)),
                "approx": approx.T.reshape(-1),
            })

    scored = n.mapInPandas(
        score, schema="query_id long, vec_id long, approx double"
    ).filter(F.col("query_id") != F.col("vec_id"))
    return _pq_exact_rerank(n, scored, PQ_OVERSAMPLE)


def _sql_pq_subdist(m: int, calias: str = "c") -> str:
    """Left-assoc sum of (v_d - cv_d)^2 over subspace m's dims."""
    return " + ".join(
        f"(n.v[{m * PQ_SUB + d + 1}] - {calias}.cv[{m * PQ_SUB + d + 1}])"
        f" * (n.v[{m * PQ_SUB + d + 1}] - {calias}.cv[{m * PQ_SUB + d + 1}])"
        for d in range(PQ_SUB)
    )


def _sql_pq_code_ctes(cname: str) -> str:
    """The PQ encode CTE chain (sub -> codes -> deq) against codebook
    table ``cname(code_id, cv)`` — shared by the standalone PQ oracle
    and the composed IVFxPQ oracle."""
    sub = "\n    UNION ALL\n".join(
        f"""    SELECT n.vec_id, {m} AS m, c.code_id,
           round({_sql_pq_subdist(m)} + 1e-9, 6) AS dist
    FROM n CROSS JOIN {cname} c"""
        for m in range(PQ_M)
    )
    return f"""sub AS (
{sub}
),
codes AS (
    SELECT vec_id, m, code_id FROM (
        SELECT vec_id, m, code_id,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist ASC, code_id ASC) AS rnk
        FROM sub
    ) WHERE rnk = 1
),
deq AS (
    SELECT codes.vec_id,
           flatten(list(
               c.cv[(codes.m * {PQ_SUB} + 1):(codes.m * {PQ_SUB} + {PQ_SUB})]
               ORDER BY codes.m
           )) AS dv
    FROM codes JOIN {cname} c USING (code_id)
    GROUP BY codes.vec_id
)"""


SQL_ANN_PQ_TOPK = rf"""
WITH {_SQL_VECTORS},
cents AS (
    SELECT vec_id AS code_id, v AS cv FROM n WHERE vec_id < {PQ_K}
),
{_sql_pq_code_ctes("cents")},
approx AS (
    SELECT q.vec_id AS query_id, d.vec_id,
           round({_sql_dot('d.dv', 'q.v')} + 1e-9, 6) AS approx
    FROM n q JOIN deq d ON q.vec_id < {N_QUERIES} AND q.vec_id <> d.vec_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, vec_id ASC) AS crank
        FROM approx
    ) WHERE crank <= {ANN_K * PQ_OVERSAMPLE}
),
exact AS (
    SELECT c.query_id, c.vec_id,
           round({_sql_dot('q.v', 'x.v')} / (q.nrm * x.nrm) + 1e-9, 6)
               AS cosine
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_id
    JOIN n q ON q.vec_id = c.query_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC)::INTEGER AS rank,
           vec_id, cosine
    FROM exact
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {ANN_K}
"""


# --- IVF x PQ: the composed billion-vector serving layout ------------------

IVFPQ_OVERSAMPLE = 4


def ann_ivfpq_topk(embs: DataFrame) -> DataFrame:
    """(query_id, rank, vec_id, cosine) — IVF cell pruning composed with
    PQ code scoring: the canonical billion-vector ANN layout. Queries
    probe their ``IVF_NPROBE`` nearest cells (driver-side coarse
    quantizer); candidates are ONLY the vectors assigned to probed
    cells; their approximate scores come from the PQ-decoded codewords
    (4-byte codes, not the float column); the top
    ``ANN_K * IVFPQ_OVERSAMPLE`` per query are exactly re-ranked.

    Scale shape — this is the operator whose plan survives 10^9
    vectors: with the corpus written cell-partitioned
    (:func:`write_cell_partitioned`) the candidate scan partition-prunes
    to nprobe x n_queries cells, and within those cells only the PQ code
    column is needed (128x less IO than floats); the kernel emits one
    (query, vec_id, approx) row per candidate-in-probed-cell, not per
    corpus row — candidate volume ~ N * nprobe / cells, linear in N
    with a corpus-independent constant. Exact re-rank touches
    k * oversample full vectors per query.

    Oracle parity: cell assignment uses :func:`_assign_cells`'s exact
    math (dimension-order fold, 6dp round with the 1e-9 epsilon, argmax
    ties to lower cell), fused into the scoring kernel below; probes are
    :func:`_probe_cells_local` (same key); PQ encode/decode-dot follows
    :func:`ann_pq_topk`'s fold/round discipline; the approx candidate
    cut orders (approx DESC, vec_id ASC); exact re-rank is the shared
    ``_dot``/6dp cosine. IVF_CELLS == PQ_K, so both codebooks are the
    same deterministic first-16 sample — collected ONCE and sliced into
    both the coarse-quantizer matrix and the PQ sub-codebooks.

    Fused single-pass kernel: assignment + PQ decode + probed-cell
    restriction run in ONE ``mapInPandas`` over the corpus, so the
    64-double vectors cross the Arrow boundary once (the earlier
    assign-then-score chain shipped them JVM->Python->JVM->Python
    twice), and PQ decode touches ONLY rows whose cell is probed by
    some query — at scale that is N * nprobe / cells rows, exactly the
    partition-pruned scan :func:`write_cell_partitioned` gives a
    serving deployment."""
    import numpy as np

    n = _vectors(embs)
    cents = _collect_centroids(n)
    assert IVF_CELLS == PQ_K, "shared first-K sample requires equal sizes"
    V16 = np.asarray([cv for _, cv, _ in cents], dtype=np.float64)
    C = np.stack(
        [V16[:, m * PQ_SUB:(m + 1) * PQ_SUB] for m in range(PQ_M)]
    )  # (M, K, SUB) — same layout as _collect_pq_codebook, zero extra jobs
    Cc = V16                                     # coarse-quantizer matrix
    ccn = np.asarray([x for _, _, x in cents], dtype=np.float64)
    cent_ids = np.asarray([cid for cid, _, _ in cents], dtype=np.int64)
    queries = [(cid, cv, cn) for cid, cv, cn in cents if cid < N_QUERIES]
    probe_rows = _probe_cells_local(queries, cents)
    qids = np.asarray(sorted({qid for qid, *_ in probe_rows}))
    qv_by_id = {qid: qv for qid, qv, _, _ in probe_rows}
    Q = np.asarray([qv_by_id[int(q)] for q in qids])
    cells_by_q = {int(q): set() for q in qids}
    for qid, _, _, cid in probe_rows:
        cells_by_q[int(qid)].add(int(cid))
    probed_union = np.asarray(
        sorted(set().union(*cells_by_q.values())), dtype=np.int64
    )

    def score(batches):
        import pandas as pd

        empty = pd.DataFrame(
            {"query_id": pd.Series([], dtype="int64"),
             "vec_id": pd.Series([], dtype="int64"),
             "approx": pd.Series([], dtype="float64")}
        )
        yielded = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy())
            # coarse assignment — _assign_cells' exact dimension-order
            # fold + 6dp/1e-9 round + first-max argmax, inlined
            acc = np.zeros((len(pdf), len(ccn)))
            for d in range(Cc.shape[1]):
                acc += V[:, d, None] * Cc[None, :, d]
            ccos = np.round(
                acc / (pdf["nrm"].to_numpy()[:, None] * ccn[None, :]) + 1e-9,
                6,
            )
            cell_ids = cent_ids[np.argmax(ccos, axis=1)]
            # PQ decode only rows in SOME query's probed cell
            usel = np.isin(cell_ids, probed_union)
            if not usel.any():
                continue
            V = V[usel]
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)[usel]
            cell_ids = cell_ids[usel]
            approx = _pq_decode_scores(V, C, Q)
            frames = []
            for qi, qid in enumerate(qids):
                probed = np.asarray(sorted(cells_by_q[int(qid)]))
                sel = np.isin(cell_ids, probed)
                if not sel.any():
                    continue
                frames.append(pd.DataFrame({
                    "query_id": np.full(int(sel.sum()), qid, dtype=np.int64),
                    "vec_id": vec_ids[sel],
                    "approx": approx[sel, qi],
                }))
            if frames:
                yielded = True
                yield pd.concat(frames, ignore_index=True)
        if not yielded:
            yield empty

    scored = n.mapInPandas(
        score, schema="query_id long, vec_id long, approx double"
    ).filter(F.col("query_id") != F.col("vec_id"))
    return _pq_exact_rerank(n, scored, IVFPQ_OVERSAMPLE)


SQL_ANN_IVFPQ_TOPK = rf"""
WITH {_SQL_VECTORS},
ivfc AS (
    SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM n
    WHERE vec_id < {IVF_CELLS}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT n.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY round({_sql_dot('n.v', 'c.cv')} / (n.nrm * c.cn)
                                  + 1e-9, 6) DESC,
                            c.cell_id ASC
               ) AS rk
        FROM n CROSS JOIN ivfc c
    ) WHERE rk = 1
),
probes AS (
    SELECT query_id, cell_id FROM (
        SELECT q.vec_id AS query_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_sql_dot('q.v', 'c.cv')} / (q.nrm * c.cn)
                                  + 1e-9, 6) DESC,
                            c.cell_id ASC
               ) AS rk
        FROM n q CROSS JOIN ivfc c
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rk <= {IVF_NPROBE}
),
pqc AS (
    SELECT vec_id AS code_id, v AS cv FROM n WHERE vec_id < {PQ_K}
),
{_sql_pq_code_ctes("pqc")},
approx AS (
    SELECT p.query_id, a.vec_id,
           round({_sql_dot('d.dv', 'q.v')} + 1e-9, 6) AS approx
    FROM probes p
    JOIN assigned a USING (cell_id)
    JOIN deq d ON d.vec_id = a.vec_id
    JOIN n q ON q.vec_id = p.query_id
    WHERE p.query_id <> a.vec_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, vec_id ASC) AS crank
        FROM approx
    ) WHERE crank <= {ANN_K * IVFPQ_OVERSAMPLE}
),
exact AS (
    SELECT c.query_id, c.vec_id,
           round({_sql_dot('q.v', 'x.v')} / (q.nrm * x.nrm) + 1e-9, 6)
               AS cosine
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_id
    JOIN n q ON q.vec_id = c.query_id
),
ranked AS (
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC)::INTEGER AS rank,
           vec_id, cosine
    FROM exact
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {ANN_K}
"""


# --- k-means clustering (trained quantizer; iterative algorithm) -----------

KMEANS_K = 8        # clusters
KMEANS_SCALE = 10**6  # fixed-point: coord -> round(coord * 1e6) as int64


def _kmeans_assign_kernel(C, cids):
    """One narrow Arrow pass over (vec_id, x): argmin squared distance
    to the closure-captured centroid matrix ``C``.

    All math is float64: the quantized coordinates and integer-valued
    centroids are <= 2^53 so their double images are exact, each
    ``diff*diff`` rounds identically in numpy / DuckDB, and the
    accumulator folds in dimension order — the oracle's left-assoc
    64-term CAST-to-DOUBLE sum, bit for bit. (An int64 accumulator
    would silently wrap past 2^63 where the oracle's BIGINT raises.)
    ``np.argmin`` takes the first minimum = (dist ASC, cluster_id ASC)
    because ``cids`` ascends. Module-level so tests exercise the
    PRODUCTION kernel's plan shape, not a copy.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(C, dtype=np.float64)
    cids = np.asarray(cids, dtype=np.int64)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"vec_id": pd.Series([], dtype="int64"),
                     "x": pd.Series([], dtype="object"),
                     "cluster_id": pd.Series([], dtype="int64")}
                )
                continue
            X = np.stack(pdf["x"].to_numpy()).astype(np.float64)
            dist = np.zeros((len(pdf), len(cids)))
            for d in range(X.shape[1]):
                diff = X[:, d, None] - C[None, :, d]
                dist += diff * diff
            yield pdf.assign(cluster_id=cids[np.argmin(dist, axis=1)])

    return assign


def kmeans_clusters(embs: DataFrame) -> DataFrame:
    """(vec_id, cluster_id, cluster_size) — Lloyd's k-means over the
    embedding column: deterministic first-``KMEANS_K`` init, one exact
    assignment round, one distributed centroid update, one final
    assignment. This is the *trained* counterpart of the IVF coarse
    quantizer (which is assignment-only by design so its oracle stays
    closed-form); k-means is the iterative-algorithm representative of
    the operator family — the loop a production system runs offline to
    train IVF cells / PQ codebooks (re-expresses the reference's
    build-then-serve split: training is a batch job, serving ships the
    tiny centroid matrix in a closure).

    Cross-engine exactness discipline (why this hash-gates):
    - Coordinates are fixed-point quantized ONCE:
      ``xq_d = round(v_d * 1e6 + 1e-9)`` as int64 (the shared epsilon
      dodges decimal-halfway disagreement; both engines round the same
      IEEE double away from zero). The quantized ints are <= 2^53, so
      their float64 images are EXACT.
    - Distances in both rounds fold ``(x_d - c_d)^2`` over float64 in
      dimension order (``acc += diff*diff`` for d = 0..63) — the
      identical IEEE sequence as the oracle's left-associated 64-term
      sum of CAST-to-DOUBLE operands, so the two engines are
      bit-identical with NO magnitude ceiling (an int64 distance
      accumulator would silently wrap in numpy past 2^63 while the
      oracle's BIGINT raised — float64 can't diverge that way). Ties
      argmin to the lower cluster_id (np.argmin first-min == the
      oracle window's dist ASC, cid ASC).
    - The centroid update is an **exact integer** per-dimension sum +
      count (map-side partial hash agg over K x 64 = 512 keys); the new
      centroid coordinate is ``float(s) / cnt`` — the explicit
      round-to-double of the exact sum, then one IEEE division, exactly
      the oracle's ``CAST(s AS DOUBLE) / cnt`` (plain Python ``s / cnt``
      would divide the EXACT big int and differ by 1 ulp once
      s > 2^53).

    Scale shape (10^9 vectors): each assignment is ONE narrow Arrow
    pass with the K x 64 centroid matrix in the closure (zero join,
    zero Exchange — the `_assign_cells` pattern); the update's explode
    feeds a hash aggregate with 512 distinct keys, so partial
    aggregation collapses each task's contribution to <= 512 rows
    before the only (tiny) shuffle; the driver holds K x 64 longs.
    Per-iteration cost is exactly two corpus scans; empty clusters keep
    their previous centroid (mirrored in the oracle via per-dimension
    COALESCE).
    """
    import numpy as np

    n = _vectors(embs)
    xq = n.select(
        "vec_id",
        F.transform(
            F.col("v"),
            lambda x: F.round(x * KMEANS_SCALE + 1e-9).cast("long"),
        ).alias("x"),
    )

    init_rows = (
        xq.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    )
    C0 = np.asarray(
        [[int(c) for c in r.x] for r in init_rows], dtype=np.float64
    )
    # actual ids of the init rows — NOT assumed dense 0..K-1 (a corpus
    # with < KMEANS_K vectors, or whose smallest vec_ids don't start at
    # 0, yields fewer/shifted centroids; the oracle's c0 CTE has the
    # same rows, and every structure below maps by position of cids0)
    cids0 = np.asarray([int(r.vec_id) for r in init_rows], dtype=np.int64)

    assigned1 = xq.mapInPandas(
        _kmeans_assign_kernel(C0, cids0),
        schema="vec_id long, x array<long>, cluster_id long",
    )

    # centroid update: exact integer per-dim sums via a 512-key hash agg
    upd = (
        assigned1.select(
            "cluster_id", F.posexplode(F.col("x")).alias("d", "xd")
        )
        .groupBy("cluster_id", "d")
        .agg(F.sum("xd").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    S = {}
    for r in upd:
        S.setdefault(int(r.cluster_id), [None] * EMB_DIM)[int(r.d)] = (
            int(r.s), int(r.cnt)
        )
    C1 = np.empty((len(cids0), EMB_DIM), dtype=np.float64)
    for j, cid in enumerate(cids0):
        if int(cid) in S:
            # float(s) first == the oracle's CAST(s AS DOUBLE) / cnt
            C1[j] = [float(s) / cnt for s, cnt in S[int(cid)]]
        else:  # empty cluster keeps its init centroid
            C1[j] = C0[j]

    assigned2 = xq.mapInPandas(
        _kmeans_assign_kernel(C1, cids0),
        schema="vec_id long, x array<long>, cluster_id long",
    )

    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return (
        assigned2.select("vec_id", "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select("vec_id", "cluster_id", "cluster_size")
    )


def _sql_kmeans_list_dist(xcol: str, ccol: str) -> str:
    """Left-assoc float64 sum of squared diffs over 64 dims, both
    operands CAST-to-DOUBLE list elements — the kernel's exact IEEE
    sequence (BIGINT arithmetic would error past 2^63 where the kernel's
    float64 cannot)."""
    return " + ".join(
        f"(CAST({xcol}[{d + 1}] AS DOUBLE) - CAST({ccol}[{d + 1}] AS DOUBLE))"
        f" * (CAST({xcol}[{d + 1}] AS DOUBLE) - CAST({ccol}[{d + 1}] AS DOUBLE))"
        for d in range(EMB_DIM)
    )


def _sql_kmeans_dbl_dist(xcol: str, calias: str) -> str:
    """Left-assoc fold of (x_d::DOUBLE - c_d)^2 against per-dim centroid
    columns ``{calias}.c{d}`` — same IEEE sequence as the kernel's
    dimension-order ``acc += diff*diff``."""
    return " + ".join(
        f"(CAST({xcol}[{d + 1}] AS DOUBLE) - {calias}.c{d})"
        f" * (CAST({xcol}[{d + 1}] AS DOUBLE) - {calias}.c{d})"
        for d in range(EMB_DIM)
    )


_SQL_KMEANS_SUMS = ",\n           ".join(
    f"sum(x[{d + 1}])::BIGINT AS s{d}" for d in range(EMB_DIM)
)

_SQL_KMEANS_CENTS1 = ",\n           ".join(
    f"CASE WHEN u.cluster_id IS NULL THEN CAST(c0.c[{d + 1}] AS DOUBLE)\n"
    f"                ELSE CAST(u.s{d} AS DOUBLE) / u.cnt END AS c{d}"
    for d in range(EMB_DIM)
)

SQL_KMEANS_CLUSTERS = rf"""
WITH xq AS (
    SELECT vec_id::BIGINT AS vec_id,
           list_transform(embedding::DOUBLE[],
                          e -> CAST(round(e * {KMEANS_SCALE} + 1e-9) AS BIGINT))
               AS x
    FROM embeddings
),
c0 AS (
    SELECT vec_id AS cluster_id, x AS c FROM xq WHERE vec_id < {KMEANS_K}
),
a1 AS (
    SELECT vec_id, cluster_id FROM (
        SELECT xq.vec_id, c0.cluster_id,
               row_number() OVER (
                   PARTITION BY xq.vec_id
                   ORDER BY {_sql_kmeans_list_dist('xq.x', 'c0.c')} ASC,
                            c0.cluster_id ASC
               ) AS rk
        FROM xq CROSS JOIN c0
    ) WHERE rk = 1
),
u AS (
    SELECT a1.cluster_id,
           {_SQL_KMEANS_SUMS},
           count(*)::BIGINT AS cnt
    FROM a1 JOIN xq USING (vec_id)
    GROUP BY a1.cluster_id
),
c1 AS (
    SELECT c0.cluster_id,
           {_SQL_KMEANS_CENTS1}
    FROM c0 LEFT JOIN u USING (cluster_id)
),
a2 AS (
    SELECT vec_id, cluster_id FROM (
        SELECT xq.vec_id, c1.cluster_id,
               row_number() OVER (
                   PARTITION BY xq.vec_id
                   ORDER BY {_sql_kmeans_dbl_dist('xq.x', 'c1')} ASC,
                            c1.cluster_id ASC
               ) AS rk
        FROM xq CROSS JOIN c1
    ) WHERE rk = 1
)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM a2
"""
