"""Self-test of the benchmark at its smallest size.

Run from the repository root (takes a few minutes):

    python3 perfbench/selftest.py

It checks that
- ``BENCHMARK.json`` names exactly the metrics and units ``run.py`` prints;
- every workload runs at ``--size tiny``, passes its correctness checks
  and prints every end-to-end metric with its unit and a value above 0;
- a traced run prints every per-layer metric with its unit;
- a run with one deliberately corrupted result is caught: it reports the
  failed op, ``correct: false`` and exits 1;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, PER_LAYER  # noqa: E402


def bench(*args: str, cwd: Path | None = None) -> tuple[int, dict | None]:
    cmd = [sys.executable, f"{HERE.name}/run.py", "--seconds", "2", "--size", "tiny", *args]
    proc = subprocess.run(cmd, cwd=cwd or Path.cwd(), stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def check_metrics(res: dict, expected: list[tuple[str, str]], positive: bool) -> list[str]:
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    got = res.get("metrics", {})
    if set(got) != {n for n, _ in expected}:
        errs.append(f"metric names differ: {sorted(set(got) ^ {n for n, _ in expected})}")
    for name, unit in expected:
        m = got.get(name, {})
        if m.get("unit") != unit:
            errs.append(f"{name}: unit {m.get('unit')!r} != {unit!r}")
        if positive and not (isinstance(m.get("value"), (int, float)) and m["value"] > 0):
            errs.append(f"{name}: value {m.get('value')!r} is not above 0")
    return errs


def main() -> int:
    spec = json.loads(Path("BENCHMARK.json").read_text())
    errs = []
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    if e2e != END_TO_END:
        errs.append("BENCHMARK.json end_to_end differs from run.END_TO_END")
    if layer != PER_LAYER:
        errs.append("BENCHMARK.json per_layer differs from run.PER_LAYER")

    workloads = [w["name"] for w in spec["workloads"]]
    for wl in sorted(set(workloads) | {"search"}):
        rc, res = bench("--workload", wl, "--seed", "3", "--trace", "0")
        print(f"{wl}: exit {rc}, result {res}", flush=True)
        if rc != 0 or not res or not res["correct"] or res["failed"]:
            errs.append(f"{wl}: clean run failed (exit {rc})")
        elif (e := check_metrics(res, END_TO_END, positive=True)):
            errs += [f"{wl}: {x}" for x in e]

    rc, res = bench("--workload", workloads[-1], "--seed", "4", "--trace", "1")
    print(f"traced {workloads[-1]}: exit {rc}", flush=True)
    if rc != 0 or not res or not res["correct"]:
        errs.append(f"traced run failed (exit {rc})")
    else:
        errs += [f"traced: {x}" for x in check_metrics(res, PER_LAYER, positive=False)]

    rc, res = bench("--workload", workloads[-1], "--seed", "5", "--trace", "0", "--corrupt")
    print(f"corrupted {workloads[-1]}: exit {rc}, result {res}", flush=True)
    if rc != 1 or not res or res["correct"] or res["failed"] < 1:
        errs.append("the corrupted result was not caught")

    Path(".perfbench").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".perfbench") as bare:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, Path(bare) / HERE.name,
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = bench("--workload", workloads[0], "--seed", "1", "--trace", "0",
                        cwd=Path(bare))
        print(f"bare directory: exit {rc}, result {res}", flush=True)
        if rc == 0 or res is not None:
            errs.append("the bare directory run did not fail cleanly")

    for e in errs:
        print("FAIL:", e)
    print("selftest:", "FAILED" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
