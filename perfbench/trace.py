"""In-memory spans, Spark job attribution and per-layer counters.

A span is ``(id, parent, op, name, start, end)``.  Each op (one preview,
one catalog entry) is a root span ``op``; under it ``Tracer.phase``
opens one span per call the benchmark makes into a layer and, while
tracing is on, the library functions :func:`instrument` wraps open
theirs.
With tracing off ``span`` only sets the Spark job group, so the
untraced run pays one ``setJobGroup`` call per phase and nothing else.

Job, stage, task, shuffle, spill, GC, output-byte and Python/Arrow
figures come from Spark's own event log, parsed after the session
stops, and are attributed to ops through the job group
``<workload>:<op>:<phase>`` that ``Tracer.phase`` sets.  Counting jobs
per group from the log cannot go negative, unlike deltas of the status
tracker's retained-job window.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import tempfile
import time
from collections import defaultdict

# Library functions wrapped in traced runs: {module: {function: layer}}.
# The layer names the metric prefix the span's time is summed into.
INSTRUMENTED = {
    "warp_spark.formula": {"parse": "formula.parse", "to_column": "formula.compile"},
    "warp_spark.pipeline.graph": {
        "persist_wedge_census": "graph.census",
        "wedge_census": "graph.census",
        "update_wedge_census": "graph.census",
    },
    "warp_spark.artifacts": {"swap_artifact_dir": "artifacts.swap"},
}
# DataFrame methods that return rows to the driver (catalog.driver_rows)
DRIVER_ACTIONS = ("collect", "take", "head", "first", "toPandas")
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.ensures: list[dict] = []
        self._stack: list[int] = []
        self._op = ""
        self._sc = None
        self._bookkeeping = 0.0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    # -- spans ---------------------------------------------------------------
    def op(self, op: str):
        """Root span of one op (a preview, a catalog entry)."""
        self._op = op
        return self.span("op")

    def phase(self, phase: str):
        """Span for one phase of the current op; also its Spark job group."""
        if self._sc is not None:
            self._sc.setJobGroup(f"{self.workload}:{self._op}:{phase}", phase, False)
        return self.span(phase)

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL_SPAN

    def _open(self, name: str) -> dict:
        t0 = time.perf_counter()
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        self._bookkeeping += time.perf_counter() - t0
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        self._stack.pop()

    def layer_seconds(self) -> tuple[dict, dict]:
        """(total, self) seconds per span name; self = span − children.
        A span nested in one of the same name (an ensure calling an
        ensure) counts toward the total once, through the outer one."""
        total: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            d = sp["end"] - sp["start"]
            if not self._inside(sp, sp["name"]):
                total[sp["name"]] += d
            if sp["parent"] is not None:
                child[sp["parent"]] += d
        own: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            own[sp["name"]] += sp["end"] - sp["start"] - child[sp["id"]]
        return dict(total), dict(own)

    def _inside(self, sp: dict, name: str) -> bool:
        p = sp["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**sp, "start": sp["start"] - t0, "end": sp["end"] - t0}) + "\n")

    # -- library instrumentation ----------------------------------------------
    def instrument(self) -> None:
        """Wrap the library's layer functions (traced runs only).  Every
        module that imported a wrapped function by name gets the wrapper
        too, so calls from inside the catalog are seen."""
        import pyspark.sql.classic.dataframe as classic_df

        import warp_spark.catalog as catalog

        wrapped = {}
        for mod_name, fns in INSTRUMENTED.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for fn_name, layer in fns.items():
                orig = getattr(mod, fn_name)
                wrapped[orig] = self._timed(orig, layer)
        for name in dir(catalog):
            if name.startswith("_ensure_"):
                orig = getattr(catalog, name)
                wrapped[orig] = self._ensure(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("warp_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if callable(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])
        for name in DRIVER_ACTIONS:
            orig = getattr(classic_df.DataFrame, name)
            setattr(classic_df.DataFrame, name, self._driver_action(orig))

    def _timed(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    def _ensure(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = _markers()
            with self.span("artifacts.ensure"):
                out = fn(*args, **kwargs)
            after = _markers()
            self.ensures.append({"op": self._op, "ensure": name, "reused": before == after})
            return out

        return wrapper

    def _driver_action(self, fn):
        depth = {"n": 0}

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            depth["n"] += 1
            try:
                out = fn(df, *args, **kwargs)
            finally:
                depth["n"] -= 1
            if depth["n"] == 0 and any(self.spans[i]["name"] == "catalog.build" for i in self._stack):
                self.counters["catalog.driver_rows"] += _nrows(out)
            return out

        return wrapper

    def bookkeeping_s(self) -> float:
        return self._bookkeeping


class _Span:
    __slots__ = ("tracer", "name", "sp")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.sp = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.sp)
        return False


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


def _markers() -> dict:
    """Completion-marker stamps under the artifact root (the catalog's
    ``tempfile.gettempdir()``): an ensure that changed none reused."""
    root = tempfile.gettempdir()
    out = {}
    for pat in ("*/_*_COMPLETE", "*/*/_*_COMPLETE"):
        for p in glob.glob(os.path.join(root, pat)):
            try:
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
            except FileNotFoundError:
                pass
    return out


def _nrows(out) -> int:
    if out is None:
        return 0
    if hasattr(out, "shape"):  # pandas
        return int(out.shape[0])
    if isinstance(out, list):
        return len(out)
    return 1  # a single Row


def streaming_listener(counters: dict):
    """StreamingQueryListener feeding stream.triggers / trigger_s / input_rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            counters["stream.triggers"] += 1
            counters["stream.trigger_s"] += (p.batchDuration or 0) / 1000.0
            counters["stream.input_rows"] += p.numInputRows or 0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
_PY_SENT = "data sent to Python workers"
_PY_ROWS = "number of output rows"


def parse_event_log(log_dir: str) -> dict:
    """Task metrics and Python/Arrow SQL metrics summed per job group:
    ``{group: {"jobs", "stages", "tasks", "input_bytes", ...}}``."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    py_acc: dict[int, str] = {}  # accumulator id -> group metric key
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "(none)"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"], "(none)")
                    groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "(none)")]
                    _add_task(g, ev.get("Task Metrics") or {})
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = py_acc.get(acc.get("ID"))
                        if key and acc.get("Update") is not None:
                            g[key] += float(acc["Update"])
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    return {k: dict(v) for k, v in groups.items()}


def _add_task(g: dict, m: dict) -> None:
    g["tasks"] += 1
    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    g["gc_ms"] += m.get("JVM GC Time", 0)


def _python_accumulators(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    is_python = "Python" in name or "Pandas" in name or "Arrow" in name
    for m in node.get("metrics", []):
        if m.get("name") == _PY_SENT:
            out[m["accumulatorId"]] = "py_bytes_sent"
        elif is_python and m.get("name") == _PY_ROWS:
            out[m["accumulatorId"]] = "py_rows_returned"
    for child in node.get("children", []):
        _python_accumulators(child, out)
