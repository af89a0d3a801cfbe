#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client driving warp_spark from outside.

    python3 perfbench/run.py --workload qbe_preview --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for what each measures and why):

* ``qbe_preview``        seeded editing sessions, each edit previewed on a sample
* ``batch``              read-only catalog entries, seed-permuted, one pass each
* ``artifact_lifecycle`` artifact writes and the reads that probe them, fixed order

Run from the root of a checkout.  The inputs are generated (fixed data
seed) into ``perfbench/.runs/`` and removed afterwards, together with
the per-run artifact root (``TMPDIR``) and Spark's scratch space.  Every
op's output is checked against DuckDB; failures are counted, listed on
the info line and never skipped.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The exit code is 1 when any op failed, after both JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("qbe_preview", "batch", "artifact_lifecycle")
# scale factor of the generated inputs, per workload
SCALE = {"qbe_preview": 0.1, "batch": 0.01, "artifact_lifecycle": 0.01}
WARM_SF = 0.001
# first use of Spark's scan / aggregate / sort machinery
WARMUP_OPS = {
    "batch": ["q1_pricing_summary"],
    "artifact_lifecycle": ["q1_pricing_summary"],
}
DATA_SEED = 42  # catalog tables are fixed; the run seed drives order and chains
CORES = max(1, min(4, os.cpu_count() or 1))
# previews per second of --seconds: 40 at run_seconds = 15; measured, 40
# previews take a median 15.2 s (ten seeds, sf0.1, 4 cores), 2.6/s
PREVIEWS_PER_S = 2.7

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
LAYER_UNITS = {
    "formula.parse_s": "s", "formula.compile_s": "s",
    "infer.suggest_s": "s", "infer.calls": "count",
    "chain.build_s": "s", "chain.build_jobs": "count",
    "catalog.build_s": "s", "catalog.build_jobs": "count", "catalog.driver_rows": "count",
    "plan_s": "s", "exec_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "input_mb": "MB", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB", "gc_s": "s",
    "python.bytes_sent_mb": "MB", "python.rows_returned": "count",
    "graph.census_s": "s",
    "artifacts.swaps": "count", "artifacts.swap_s": "s", "artifacts.written_mb": "MB",
    "artifacts.reuse_ratio": "ratio",
    "lifecycle.write_s": "s", "lifecycle.read_s": "s", "artifact_space_mb": "MB",
    "stream.triggers": "count", "stream.trigger_s": "s", "stream.input_rows": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "self.formula_s": "s", "self.infer_s": "s", "self.chain_s": "s", "self.catalog_s": "s",
    "self.graph_s": "s", "self.artifacts_s": "s", "self.plan_s": "s", "self.exec_s": "s",
    "self.bench_s": "s",
    "trace.pass_s": "s", "trace.bookkeeping_s": "s",
}
# span name -> layer whose self time it counts toward
SELF_LAYER = {
    "formula.parse": "formula", "formula.compile": "formula", "infer": "infer",
    "chain.build": "chain", "catalog.build": "catalog", "graph.census": "graph",
    "artifacts.swap": "artifacts", "artifacts.ensure": "artifacts",
    "plan": "plan", "exec": "exec", "op": "bench",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="input scale factor (default: per workload)")
    p.add_argument("--inject-wrong-row", action="store_true",
                   help="corrupt one output row (smoke test of the output check)")
    return p.parse_args(argv)


def _box_state() -> dict:
    """Load context recorded with every result (bench.py's _load_ok):
    sampled before our own JVM starts, so any Spark JVM is foreign."""
    try:
        out = subprocess.run(["pgrep", "-c", "-f", "java.*spark"],
                             capture_output=True, text=True).stdout.strip()
        jvms = int(out or 0)
    except (OSError, ValueError):
        jvms = -1
    return {"cores": CORES, "nproc": os.cpu_count(), "load1": round(os.getloadavg()[0], 2),
            "foreign_spark_jvms": jvms}


def _vmhwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total / (1024.0 * 1024.0)


def _pct(values, q) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Run:
    def __init__(self, a):
        self.a = a
        self.box = _box_state()
        self.sf = a.sf or SCALE[a.workload]
        self.run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
        self.spark = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.latencies: list[float] = []
        self.pass_s = 0.0
        self.kind_s = {"write": 0.0, "read": 0.0}
        self.space_mb = 0.0
        self.op_s: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------------
    def _pin_environment(self) -> None:
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        tempfile.tempdir = None  # re-read TMPDIR: the catalog's artifact root
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        # the library's default driver heap, the one bench.py and callers
        # of get_spark run with, whatever the calling environment sets
        os.environ.pop("WARP_SPARK_DRIVER_MEM", None)
        os.environ["TZ"] = "UTC"  # collect() renders timestamps in local time
        time.tzset()

    def setup(self) -> None:
        from perfbench import datagen
        from perfbench.trace import Tracer

        self._pin_environment()
        t0 = time.perf_counter()
        self.data = os.path.join(self.run_dir, "data", "main")
        self.warm = os.path.join(self.run_dir, "data", "warm")
        datagen.generate(self.data, self.sf, DATA_SEED)
        datagen.generate(self.warm, WARM_SF, DATA_SEED)
        t1 = time.perf_counter()
        self.datagen_s = t1 - t0  # not set-up: no library change can move it
        from warp_spark import get_spark

        extra = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                 "spark.ui.showConsoleProgress": "false",
                 # keep the JVM's scratch files inside the run directory
                 "spark.driver.extraJavaOptions":
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
        if self.a.trace:
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                          "spark.eventLog.compress": "false"})
        self.spark = get_spark(f"perfbench-{self.a.workload}", cpus=CORES, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.warmup()
        t3 = time.perf_counter()
        self.tracer = Tracer(self.a.workload, bool(self.a.trace))
        self.tracer.bind(self.spark)
        if self.a.trace:
            from perfbench.trace import streaming_listener

            self.spark.streams.addListener(streaming_listener(self.tracer.counters))
            self.tracer.instrument()
        self.setup_s = t3 - t1
        self.tracer.counters["session.start_s"] = t2 - t1
        self.tracer.counters["session.warmup_s"] = t3 - t2

    def warmup(self) -> None:
        """A small fixed warm-up at sf0.001, so JVM class loading and the
        first-use cost of the common operators land in set-up."""
        from perfbench import catalog_ops, qbe
        from perfbench.trace import Tracer

        quiet = Tracer("warmup", False)
        quiet.bind(self.spark)
        if self.a.workload == "qbe_preview":
            qbe.run_session(self.spark, quiet, random.Random(-1), self.warm, 0, [], [], max_steps=4)
            return
        self._artifact_root("warmup")
        for name in WARMUP_OPS[self.a.workload]:
            catalog_ops.run_op(self.spark, quiet, name, self.warm)

    def _artifact_root(self, tag: str) -> str:
        root = os.path.join(self.run_dir, "tmp", tag)
        os.makedirs(root, exist_ok=True)
        tempfile.tempdir = root
        return root

    # -- measured work ---------------------------------------------------------
    def measure(self) -> None:
        if self.a.workload == "qbe_preview":
            self._qbe()
        else:
            self._catalog()

    def _qbe(self) -> None:
        """A fixed number of previews, the last session cut short, so a
        run's work does not depend on how long the seed's sessions are."""
        from perfbench import qbe

        rng = random.Random(self.a.seed)
        self.checks = []
        n = max(4, round(self.a.seconds * PREVIEWS_PER_S))
        t0 = time.perf_counter()
        for i in range(n):
            left = n - len(self.checks)
            if left <= 0:
                break
            try:
                qbe.run_session(self.spark, self.tracer, rng, self.data, i,
                                self.latencies, self.checks, max_steps=left)
            except Exception as e:  # counted, never skipped
                self.failures.append({"op": f"s{i}", "error": repr(e)[:300]})
                self.attempted += 1
        self.pass_s = time.perf_counter() - t0
        self.attempted += len(self.checks)

    def _catalog(self) -> None:
        from perfbench import catalog_ops

        self.outputs = []
        root = self._artifact_root("pass")
        t0 = time.perf_counter()
        for name, kind in catalog_ops.op_order(self.a.workload, self.a.seed):
            self.attempted += 1
            try:
                dt, (cols, pdf) = catalog_ops.run_op(self.spark, self.tracer, name, self.data)
            except Exception as e:  # counted, never skipped
                self.failures.append({"op": name, "error": repr(e)[:300]})
                continue
            self.latencies.append(dt)
            self.op_s[name] = dt
            self.kind_s[kind] += dt
            self.outputs.append((name, cols, pdf))
        self.pass_s = time.perf_counter() - t0
        self.space_mb = _du_mb(root)

    # -- output check ----------------------------------------------------------
    def check(self) -> None:
        from perfbench import catalog_ops

        if self.a.workload == "qbe_preview":
            from perfbench import qbe

            if self.a.inject_wrong_row:
                i = next(i for i, c in enumerate(self.checks) if c[2])
                op, cols, rows, sql = self.checks[i]
                self.checks[i] = (op, cols, [(None,) * len(cols)] + rows[1:], sql)
            self.failures += qbe.check_previews(self.checks)
            return
        con = catalog_ops.duckdb_connect(self.data)
        if self.a.inject_wrong_row:
            name, cols, pdf = next(o for o in self.outputs if len(o[2]))
            pdf.iloc[0, 0] = None
        self.failures += catalog_ops.check_catalog(con, self.outputs)

    # -- results ---------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vmhwm_mb("self") + _vmhwm_mb(jvm_pid)

    def e2e(self) -> dict:
        return {"setup_s": self.setup_s, "pass_s": self.pass_s}

    def named(self) -> dict:
        """The workload's own names for its end-to-end figures."""
        out = {"setup_s": self.setup_s, "pass_s": self.pass_s, "datagen_s": self.datagen_s,
               "op_p50_s": _pct(self.latencies, 50), "peak_rss_mb": self.rss_mb,
               "op_fail_ratio": len(self.failures) / max(1, self.attempted)}
        if self.a.workload == "qbe_preview":
            out.update(preview_p50_s=_pct(self.latencies, 50), preview_p90_s=_pct(self.latencies, 90),
                       previews=len(self.latencies))
        elif self.a.workload == "batch":
            out["batch_wall_s"] = self.pass_s
        else:
            out.update(lifecycle_write_s=self.kind_s["write"],
                       lifecycle_read_s=self.kind_s["read"],
                       artifact_space_mb=self.space_mb)
        return out

    def layers(self, log: dict) -> dict:
        from perfbench.trace import MB

        t = self.tracer
        total, own = t.layer_seconds()
        c = t.counters
        groups = {g: v for g, v in log.items() if g.startswith(self.a.workload + ":")}

        def gsum(key, phase=None):
            return sum(v.get(key, 0.0) for g, v in groups.items()
                       if phase is None or g.endswith(":" + phase))

        reused = [e["reused"] for e in t.ensures]
        lifecycle = self.a.workload == "artifact_lifecycle"
        self_layer = {f"self.{v}_s": 0.0 for v in SELF_LAYER.values()}
        for name, s in own.items():
            if name in SELF_LAYER:
                self_layer[f"self.{SELF_LAYER[name]}_s"] += s
        out = {
            "formula.parse_s": total.get("formula.parse", 0.0),
            "formula.compile_s": total.get("formula.compile", 0.0),
            "infer.suggest_s": total.get("infer", 0.0),
            "infer.calls": c["infer.calls"],
            "chain.build_s": total.get("chain.build", 0.0),
            "chain.build_jobs": gsum("jobs", "chain.build"),
            "catalog.build_s": total.get("catalog.build", 0.0),
            "catalog.build_jobs": gsum("jobs", "catalog.build"),
            "catalog.driver_rows": c["catalog.driver_rows"],
            "plan_s": total.get("plan", 0.0),
            "exec_s": total.get("exec", 0.0),
            "jobs": gsum("jobs"), "stages": gsum("stages"), "tasks": gsum("tasks"),
            "input_mb": gsum("input_bytes") / MB,
            "shuffle_write_mb": gsum("shuffle_write_bytes") / MB,
            "shuffle_read_mb": gsum("shuffle_read_bytes") / MB,
            "spill_mb": gsum("spill_bytes") / MB,
            "gc_s": gsum("gc_ms") / 1000.0,
            "python.bytes_sent_mb": gsum("py_bytes_sent") / MB,
            "python.rows_returned": gsum("py_rows_returned"),
            "graph.census_s": total.get("graph.census", 0.0),
            "artifacts.swaps": float(sum(1 for s in t.spans if s["name"] == "artifacts.swap")),
            "artifacts.swap_s": total.get("artifacts.swap", 0.0),
            "artifacts.written_mb": gsum("output_bytes") / MB,
            "artifacts.reuse_ratio": (sum(reused) / len(reused)) if reused else 0.0,
            "lifecycle.write_s": self.kind_s["write"] if lifecycle else 0.0,
            "lifecycle.read_s": self.kind_s["read"] if lifecycle else 0.0,
            "artifact_space_mb": self.space_mb,
            "stream.triggers": c["stream.triggers"],
            "stream.trigger_s": c["stream.trigger_s"],
            "stream.input_rows": c["stream.input_rows"],
            "session.start_s": c["session.start_s"],
            "session.warmup_s": c["session.warmup_s"],
            **self_layer,
            "trace.pass_s": self.pass_s,
            "trace.bookkeeping_s": t.bookkeeping_s(),
        }
        assert set(out) == set(LAYER_UNITS), set(out) ^ set(LAYER_UNITS)
        return out

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import warp_spark  # noqa: F401
        from tools import check_correctness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    run = Run(a)
    try:
        run.setup()
        run.measure()
        run.rss_mb = run.peak_rss_mb()
        if a.trace:
            spans_dir = os.path.join(HERE, "out")
            os.makedirs(spans_dir, exist_ok=True)
            run.tracer.dump(os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
        run.stop()
        run.check()
        log = {}
        if a.trace:
            from perfbench.trace import parse_event_log

            log = parse_event_log(os.path.join(run.run_dir, "eventlog"))
        info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "scale_sf": run.sf, "ops": run.attempted, **run.box,
                "metrics": run.named(), "failing_ops": run.failures,
                "op_s": {k: round(v, 3) for k, v in run.op_s.items()}}
        if a.trace:
            info["ensures"] = run.tracer.ensures
            info["jobs_by_group"] = {g: v.get("jobs", 0) for g, v in sorted(log.items())}
        print(json.dumps(info))
        if a.trace:
            values, units = run.layers(log), LAYER_UNITS
        else:
            values, units = run.e2e(), E2E_UNITS
        failed = len(run.failures)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        }))
        return 1 if failed else 0
    finally:
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
