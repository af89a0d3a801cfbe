#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 with a tiny run length.

    python3 perfbench/smoke.py            # from the root of a checkout

Checks that

* every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) is printed by name with its unit, on every workload;
* the traced run writes spans, some of them with a parent span;
* an injected wrong output row is counted as a failure and makes the
  run exit with code 1;
* without the program under test beside it, the benchmark exits
  non-zero and prints no result.

It also prints the tracing overhead per workload: the traced pass time
minus the untraced one, same seed and inputs.  Exits non-zero on the
first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402

SEED = 7


def bench(*args, cwd=ROOT) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", str(SEED),
         "--seconds", "1", "--sf", "0.001", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = []
    for line in proc.stdout.splitlines():
        try:
            lines.append(json.loads(line))
        except ValueError:
            pass
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, lines


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def metrics_ok(result: dict, units: dict) -> bool:
    m = result["metrics"]
    return set(m) == set(units) and all(
        m[k]["unit"] == u and isinstance(m[k]["value"], float) for k, u in units.items()
    )


def main() -> int:
    for w in WORKLOADS:
        rc, out = bench("--workload", w, "--trace", "0")
        expect(rc == 0 and out and out[-1]["correct"], f"{w}: untraced run is correct")
        expect(metrics_ok(out[-1], E2E_UNITS), f"{w}: every end-to-end metric with its unit")
        untraced = out[-1]["metrics"]["pass_s"]["value"]

        rc, out = bench("--workload", w, "--trace", "1")
        expect(rc == 0 and out and out[-1]["correct"], f"{w}: traced run is correct")
        expect(metrics_ok(out[-1], LAYER_UNITS), f"{w}: every per-layer metric with its unit")
        spans_path = os.path.join(HERE, "out", f"{w}-seed{SEED}.spans.jsonl")
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f]
        expect(
            bool(spans) and any(s["parent"] is not None for s in spans)
            and all({"id", "parent", "op", "name", "start", "end"} <= set(s) for s in spans),
            f"{w}: traced run wrote {len(spans)} spans with parents",
        )
        traced = out[-1]["metrics"]["trace.pass_s"]["value"]
        print(f"      {w}: tracing overhead {traced - untraced:+.3f} s "
              f"(traced {traced:.3f} s, untraced {untraced:.3f} s)")

    for w in ("qbe_preview", "batch"):
        rc, out = bench("--workload", w, "--trace", "0", "--inject-wrong-row")
        expect(rc == 1 and out and not out[-1]["correct"] and out[-1]["failed"] >= 1,
               f"{w}: an injected wrong row is counted as a failure, exit code 1")

    bare = os.path.join(HERE, ".runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".runs", "out", "__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "batch",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        expect(proc.returncode != 0 and '"correct"' not in proc.stdout,
               "without the program under test: non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
