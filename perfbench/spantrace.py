"""Spans around each call into a layer, and the fold of the Spark event
log into per-layer figures.

A span is (id, name, start, end, parent, run id, thread), kept in memory
and written out when the run ends. With tracing on, entering a span also
sets the Spark job description to ``perfbench:<span id>``, so every job
the call submits maps back to the span, and so to the layer, that caused
it. Jobs a streaming query runs carry ``streaming.sql.batchId`` instead;
they belong to the epoch with that id. Nothing here reaches inside the
program: spans wrap calls from the benchmark's own code only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
import uuid

DESC_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "thread": threading.current_thread().name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        if self.enabled:
            self.spark.sparkContext.setJobDescription(f"{DESC_PREFIX}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.enabled:
                parent = stack[-1]["id"] if stack else None
                self.spark.sparkContext.setJobDescription(
                    None if parent is None else f"{DESC_PREFIX}{parent}"
                )
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def layer_of(name: str) -> str:
    """'apply.epoch' -> 'apply'; the layer is the module a span calls."""
    return name.split(".", 1)[0]


def overlap(start: float, end: float, lo: float, hi: float) -> float:
    return max(0.0, min(end, hi) - max(start, lo))


def self_times(spans: list[dict], lo: float, hi: float) -> dict[str, float]:
    """Per-layer self time inside the window [lo, hi]: each span's
    duration, clipped to the window, minus the part covered by its
    children (children of one span never overlap: a thread runs one
    call at a time)."""

    def clipped(s) -> float:
        return overlap(s["start"], s["end"], lo, hi)

    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + clipped(s)
    out: dict[str, float] = {}
    for s in spans:
        own = clipped(s) - child_time.get(s["id"], 0.0)
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + own
    return out


def streaming_listener(sink: list):
    """A StreamingQueryListener that keeps each progress event's batch
    id, input rows, trigger start (epoch seconds) and phase durations
    (ms)."""
    import datetime as dt
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": int(p.batchId),
                    "rows": int(p.numInputRows),
                    "ms": dict(p.durationMs),
                    "start": dt.datetime.fromisoformat(p.timestamp).timestamp(),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ------------------------------------------------------------ event log

_STAGE_KEYS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
# SQL metrics of the Arrow Python UDF node, by plan-node metric name; the
# gate Filter's rows in and out are picked out in _walk_plan
_UDF_METRICS = {
    "number of output rows": "udf_rows",
    "data sent to Python workers": "udf_bytes_sent",
    "time to run Python workers": "udf_time",
}


def _rows_acc(node: dict):
    """Accumulator of 'number of output rows' of the node, or of the
    first node below it that has one (codegen wrappers have none)."""
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    for child in node.get("children", []):
        acc = _rows_acc(child)
        if acc is not None:
            return acc
    return None


def _walk_plan(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    if "ArrowEvalPython" in name:
        for m in node.get("metrics", []):
            key = _UDF_METRICS.get(m["name"])
            if key:
                out[m["accumulatorId"]] = (key, m.get("metricType", ""))
    elif name == "Filter" and "RLIKE(url" in node.get("simpleString", ""):
        # the rules' gate: valid_url's regex, which Catalyst folds into
        # one Filter with lang_gate and the dead-letter split
        out[_rows_acc(node)] = ("gate_rows_out", "sum")
        for child in node.get("children", []):
            out[_rows_acc(child)] = ("gate_rows_in", "sum")
    for child in node.get("children", []):
        _walk_plan(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs with their properties and stages, stages with their summed
    metrics (the UDF node's and the gate Filter's SQL metrics included),
    and per-stage task scheduler delay, from one uncompressed event
    log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    udf_acc: dict[int, tuple] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description") or "",
                        "batch": props.get("streaming.sql.batchId"),
                        "stages": list(ev.get("Stage IDs", [])),
                        "submitted": ev.get("Submission Time", 0) / 1000.0,
                    }
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev.get("sparkPlanInfo", {}), udf_acc)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {})
                    st["tasks"] = info.get("Number of Tasks", 0)
                    st["acc"] = {
                        a["ID"]: a.get("Value") for a in info.get("Accumulables", [])
                    }
                    for a in info.get("Accumulables", []):
                        key = _STAGE_KEYS.get(a["Name"])
                        if key:
                            st[key] = st.get(key, 0) + float(a.get("Value") or 0)
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    busy = (
                        tm.get("Executor Run Time", 0)
                        + tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                    )
                    st = stages.setdefault(ev["Stage ID"], {})
                    st["sched_delay_ms"] = st.get("sched_delay_ms", 0) + max(
                        0, dur - busy
                    )
    for st in stages.values():
        for acc_id, val in st.get("acc", {}).items():
            if acc_id in udf_acc and val is not None:
                key, mtype = udf_acc[acc_id]
                v = float(val)
                if key == "udf_time":
                    v = v / 1e9 if mtype == "nsTiming" else v / 1e3
                st[key] = st.get(key, 0.0) + v
        st.pop("acc", None)
    return {"jobs": jobs, "stages": stages}


def fold_jobs(log: dict, job_ids) -> dict:
    """Sum stage metrics over the given jobs (each stage counted once)."""
    seen: set[int] = set()
    out = {"jobs": 0, "tasks": 0}
    for j in job_ids:
        out["jobs"] += 1
        for sid in log["jobs"][j]["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue  # skipped (reused) stage
            seen.add(sid)
            for k, v in st.items():
                out[k] = out.get(k, 0) + v
    return out


def jobs_by_span(log: dict) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for j, job in log["jobs"].items():
        d = job["desc"]
        if d.startswith(DESC_PREFIX):
            out.setdefault(int(d[len(DESC_PREFIX):]), []).append(j)
    return out


def jobs_by_batch(log: dict) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for j, job in log["jobs"].items():
        if job["batch"] is not None:
            out.setdefault(int(job["batch"]), []).append(j)
    return out

