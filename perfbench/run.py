"""Benchmark of the search engine: three closed-loop workloads.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

``--workload`` is ``search``, ``ingest`` or ``curate`` (see
``workloads.py``). The seed makes every input; the same seed gives the
same inputs. ``--seconds`` bounds ``search``'s query phases; ``ingest``
and ``curate`` do a fixed amount of work (see ``workloads.SIZES``). The
last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of ``END_TO_END``, with
``--trace 1`` the per-layer metrics of ``PER_LAYER``. The line before
it starts with ``# detail`` and carries the steadiness disclosure (warm-up
calls and host steal per phase, sample counts, query profile).

A traced run records one span per call into a layer, a Spark job group
per span, and reduces the Spark event log per span. It reports the
tracing overhead of each end-to-end metric as the traced value minus the
value with the tracer's own bookkeeping (its Spark calls, timed) taken
out of every timed window; the event log's cost inside the JVM is not
separable in-process and is not included. The spans are written to
``.perfbench/out/`` when the run ends.

Every run builds everything it uses in a fresh directory under
``.perfbench/work/`` and deletes it at the end; nothing is cached
between runs. A wrong result counts as a failed op and makes the exit
code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from tracing import Tracer, steal_seconds
from workloads import CURATE_GATES, SIZES, WORKLOADS

# (name, unit): every run prints all of these with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("op_latency_s", "s"),
    ("docs_per_s", "docs/s"),
    ("ops_ok_frac", "ratio"),
]

PHASES = ["setup", "single", "batch", "generations", "compact", "gates", "check"]

# (name, unit): every run prints all of these with --trace 1; a layer a
# workload does not touch reports 0
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("corpus.gen_s", "s"),
        ("corpus.pages", "count"),
        ("corpus.text_bytes", "bytes"),
        ("index.build_s", "s"),
        ("index.jobs", "count"),
        ("index.stages", "count"),
        ("index.encode_s", "s"),
        ("index.postings", "count"),
        ("index.segment_bytes", "bytes"),
        ("index.bytes_per_text_byte", "ratio"),
        ("index.executor_cpu_s", "s"),
        ("index.shuffle_bytes", "bytes"),
        ("index.phase.build_buckets_s", "s"),
        ("index.phase.stats_s", "s"),
        ("index.phase.termstats_s", "s"),
        ("query.plan_s", "s"),
        ("query.exec_s", "s"),
        ("query.jobs_per_call", "count"),
        ("query.stages_per_call", "count"),
        ("query.state_build_s", "s"),
        ("query.python_s", "s"),
        ("query.terms_per_query", "count"),
        ("query.postings_per_query", "count"),
        ("query.oov_frac", "ratio"),
        ("search.batch_qps", "queries/s"),
        ("ingest.gen_build_s", "s"),
        ("ingest.merge_stats_s", "s"),
        ("ingest.generations_per_query", "count"),
        ("ingest.query_jobs_per_call", "count"),
        ("ingest.compact_s", "s"),
        ("ingest.compact_docs_per_s", "docs/s"),
        ("ingest.compact_shuffle_bytes", "bytes"),
        ("ingest.compact_spill_bytes", "bytes"),
        ("pipeline.cache_clears", "count"),
    ]
    + [
        (f"pipeline.{g}{suffix}", unit)
        for g in CURATE_GATES
        for suffix, unit in [("_s", "s"), ("_jobs", "count"),
                             ("_shuffle_bytes", "bytes"),
                             ("_spill_bytes", "bytes"), ("_rows", "count")]
    ]
    + [(f"host.steal.{p}_s", "s") for p in PHASES]
    + [(f"trace.coverage.{p}", "ratio") for p in PHASES]
    + [(f"overhead.{m}", u) for m, u in END_TO_END]
)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Run:
    """State of one benchmark run: session, tracer, metrics, op tally."""

    def __init__(self, args, root: Path, work: Path, t_start: float):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = SIZES[args.workload][args.size]
        self.root, self.work = root, work
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "size": args.size, "warmup_calls": {},
                             "steal_s": {}, "phase_s": {}}
        self.attempted = 0
        self.failed_ops: list[str] = []
        self._phase_end = None
        self._t_start = t_start
        self._setup_end = None
        self.op_windows: list[tuple[float, float, str]] = []
        self.bulk_windows: list[tuple[float, float, float]] = []

    def start_session(self):
        """Start Spark through the engine's own session factory, with
        every path inside this run's directory (and the event log when
        tracing)."""
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the session factory's own knob
        from search_engine_spark.session import get_spark

        tmp = self.work / "tmp"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.tracer.enabled:
            log_dir = self.work / "eventlog"
            log_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cores = len(os.sched_getaffinity(0))
        with self.tracer.span("session.start"):
            spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.tracer.sc = spark.sparkContext
        self.detail["cores"] = cores
        return spark

    def path(self, name: str) -> str:
        return str(self.work / name)

    # -- phases ------------------------------------------------------------

    @contextlib.contextmanager
    def phase(self, name: str, share: float = 1.0):
        """A timed phase: its wall time, host steal and top-level span;
        ``share`` of ``--seconds`` is its budget (see ``phase_over``)."""
        st0, t0 = steal_seconds(), time.perf_counter()
        self._phase_end = t0 + share * self.seconds
        with self.tracer.span(f"phase.{name}"):
            yield
        t1 = time.perf_counter()
        self.detail["phase_s"][name] = t1 - t0
        if name == "setup":  # setup_s counts from process start, imports too
            self._setup_end = t1
        self.detail["steal_s"][name] = steal_seconds() - st0

    def phase_over(self) -> bool:
        return time.perf_counter() >= self._phase_end

    def warmup(self, phase: str, calls: int) -> None:
        self.detail["warmup_calls"][phase] = calls

    phase_keys = {n for n, _ in PER_LAYER if n.startswith("index.phase.")}

    @contextlib.contextmanager
    def phase_log(self):
        """Capture the segment builder's SEGMENTS_PHASE_LOG lines (set
        in traced runs only) into ``index.phase.*_s``."""
        if not self.tracer.enabled:
            yield
            return
        real = sys.stderr
        lines: list[str] = []

        class Tee:
            def write(self, s):
                lines.append(s)
                return real.write(s)

            def flush(self):
                real.flush()

        sys.stderr = Tee()
        try:
            yield
        finally:
            sys.stderr = real
        for line in "".join(lines).splitlines():
            if line.startswith("[segments] ") and line.endswith("s"):
                name, secs = line[len("[segments] "):].rsplit(": ", 1)
                key = f"index.phase.{name}_s"
                if key in self.phase_keys:
                    self.layer[key] = self.layer.get(key, 0.0) + float(secs[:-1])

    # -- results -------------------------------------------------------------

    def op(self, t0: float, t1: float | None = None, round_: str = "all") -> float:
        """Record one timed op (a query or a gate) that started at ``t0``
        as part of ``round_`` (see ``end_to_end``)."""
        t1 = time.perf_counter() if t1 is None else t1
        self.op_windows.append((t0, t1, round_))
        return t1 - t0

    def op_rounds(self, cost=lambda a, b: 0.0) -> dict[str, list[float]]:
        """{round: latencies of its ops}, ``cost(a, b)`` taken out of each."""
        rounds: dict[str, list[float]] = {}
        for a, b, r in self.op_windows:
            rounds.setdefault(r, []).append(b - a - cost(a, b))
        return rounds

    def bulk(self, t0: float, docs: float, t1: float | None = None) -> float:
        """Record a stretch of bulk work (a build, a gate) over ``docs``
        documents that started at ``t0``; ``docs_per_s`` is the summed
        documents over the summed stretches."""
        t1 = time.perf_counter() if t1 is None else t1
        self.bulk_windows.append((t0, t1, docs))
        return t1 - t0

    def end_to_end(self, untraced: bool = False) -> dict[str, float]:
        """The end-to-end metrics; ``untraced=True`` takes the tracer's
        own bookkeeping out of every timed window first."""
        cost = self.tracer.cost_within if untraced else (lambda a, b: 0.0)
        # op_latency_s: the median latency of each round of ops, averaged
        # over the rounds. A round is a fixed set of ops against one state
        # (ingest: one set of live generations), so a median never falls
        # between the latency levels of two states.
        rounds = self.op_rounds(cost)
        bulk_s = sum(b - a - cost(a, b) for a, b, _ in self.bulk_windows)
        a, b = self._t_start, self._setup_end
        return {
            "setup_s": b - a - cost(a, b),
            "op_latency_s": statistics.mean(percentile(v, 50) for v in rounds.values()),
            "docs_per_s": sum(d for _, _, d in self.bulk_windows) / bulk_s,
            "ops_ok_frac": (self.attempted - len(self.failed_ops)) / max(self.attempted, 1),
        }

    def op_result(self, op: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed_ops.append(op)

    def corrupt_one(self, results: dict) -> None:
        """Self-test hook (``--corrupt``): damage one result before the
        checks, which must then report it."""
        if not self.args.corrupt or not results:
            return
        key = sorted(results)[0]
        rows = list(results[key])
        if rows:
            rows[0] = tuple(rows[0][:-1]) + (-1.0,)
        else:
            rows = [("corrupt",)]
        results[key] = rows
        self.detail["corrupted"] = key


# -- session ----------------------------------------------------------------------


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- metric assembly -------------------------------------------------------------------


def _sum(spans, key):
    return sum(s.get(key, 0) for s in spans)


def layer_metrics(run: Run) -> dict[str, float]:
    tr = run.tracer

    def timed(name: str) -> list[dict]:
        return [s for s in tr.named(name) if s["rid"] != "warmup"]

    m = {name: 0 for name, _ in PER_LAYER}
    m.update(run.layer)
    m["session.start_s"] = _dur(tr.named("session.start"))
    m["corpus.gen_s"] = _dur(tr.named("corpus.gen"))
    builds = timed("index.build")
    m["index.jobs"] = _sum(builds, "jobs")
    m["index.stages"] = _sum(builds, "stages")
    m["index.executor_cpu_s"] = _sum(builds, "cpu_s")
    m["index.shuffle_bytes"] = _sum(builds, "shuffle_write_bytes")
    plans, execs = tr.named("query.plan"), tr.named("query.exec")
    if plans:
        m["query.plan_s"] = statistics.median(s["end"] - s["start"] for s in plans)
        m["query.exec_s"] = statistics.median(s["end"] - s["start"] for s in execs)
        calls = len(plans)
        m["query.jobs_per_call"] = (_sum(plans, "jobs") + _sum(execs, "jobs")) / calls
        m["query.stages_per_call"] = (_sum(plans, "stages") + _sum(execs, "stages")) / calls
    first = tr.named("query.first_call")
    if first:
        m["query.state_build_s"] = _dur(first)
    iq = timed("ingest.query")
    if iq:
        m["ingest.query_jobs_per_call"] = sum(tr.subtree_sum(s, "jobs") for s in iq) / len(iq)
    q = run.detail.get("queries")
    if q:
        n = q["queries"]
        m["query.terms_per_query"] = q["terms_per_query"]
        m["query.postings_per_query"] = q["postings_per_query"]
        m["query.oov_frac"] = q["oov_frac"]
        m["query.python_s"] = (
            _sum(plans + execs + iq, "python_s") / n if n else 0
        )
    merges = timed("ingest.merge_stats")
    if merges:
        m["ingest.merge_stats_s"] = statistics.median(s["end"] - s["start"] for s in merges)
    compact = timed("ingest.compact")
    m["ingest.compact_shuffle_bytes"] = _sum(compact, "shuffle_write_bytes")
    m["ingest.compact_spill_bytes"] = _sum(compact, "spill_bytes")
    m["pipeline.cache_clears"] = run.detail.get("cache_clears", 0)
    for g in CURATE_GATES:
        spans = timed(f"pipeline.{g}")
        m[f"pipeline.{g}_jobs"] = _sum(spans, "jobs")
        m[f"pipeline.{g}_shuffle_bytes"] = _sum(spans, "shuffle_write_bytes")
        m[f"pipeline.{g}_spill_bytes"] = _sum(spans, "spill_bytes")
    for p in PHASES:
        m[f"host.steal.{p}_s"] = run.detail["steal_s"].get(p, 0.0)
        spans = tr.named(f"phase.{p}")
        m[f"trace.coverage.{p}"] = tr.coverage(spans[0]) if spans else 0
    return m


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


# -- main ----------------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one result before the checks (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "search_engine_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (search_engine_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [str(root), os.environ.get("PYTHONPATH")] if p
    )

    t_start = time.perf_counter()
    work = root / ".perfbench" / "work" / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    )
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    if args.trace:
        os.environ["SEGMENTS_PHASE_LOG"] = "1"
    try:
        run = Run(args, root, work, t_start)
        try:
            WORKLOADS[args.workload](run)
        finally:
            if run.spark is not None:
                stop_session(run.spark)
        if run.tracer.enabled:
            run.tracer.attach_event_log(str(work / "eventlog"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = run.end_to_end()
    lat = sorted(b - a for a, b, _ in run.op_windows)
    p90 = percentile(lat, 90)
    run.detail.update({
        "ops_failed_frac": 1.0 - e2e["ops_ok_frac"],
        "failed_ops": run.failed_ops,
        # a run has too few ops to put ten samples beyond a p90, so the
        # p90 is disclosed here rather than gated
        "op_p90_s": p90,
        "op_s": lat,
        "op_samples": len(lat),
        "op_samples_beyond_p90": sum(x > p90 for x in lat),
        "op_rounds": {r: {"samples": len(v), "p50_s": percentile(v, 50)}
                      for r, v in sorted(run.op_rounds().items())},
    })
    if args.trace:
        metrics = layer_metrics(run)
        untraced = run.end_to_end(untraced=True)
        for name, _ in END_TO_END:
            metrics[f"overhead.{name}"] = e2e[name] - untraced[name]
        units = dict(PER_LAYER)
        out = root / ".perfbench" / "out"
        out.mkdir(parents=True, exist_ok=True)
        for sp in run.tracer.spans:
            sp["self_s"] = run.tracer.self_time(sp)
        trace_file = out / f"{args.workload}-s{args.seed}-trace.json"
        trace_file.write_text(json.dumps(
            {"detail": run.detail, "end_to_end": e2e, "untraced": untraced,
             "per_layer": metrics, "spans": run.tracer.spans}, indent=1))
        run.detail["trace_file"] = str(trace_file.relative_to(root))
    else:
        metrics = e2e
        units = dict(END_TO_END)
    correct = not run.failed_ops
    print("# detail " + json.dumps(run.detail, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.failed_ops),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
