"""Outside-in tracing for the benchmark: spans recorded around the calls the
benchmark makes, Spark counts folded from the uncompressed event log, and
streaming progress captured by a listener. Nothing here runs inside
``gmall_spark``.

Every fold takes plain dicts and pass windows, so it can be checked against
a small recorded excerpt (see ``test_perfbench.py``). A window is
``(pass_id, start_ms, end_ms)`` in epoch milliseconds, the clock Spark
stamps its events with. A job, stage or task belongs to the window its end
time falls in, a micro-batch to the window its trigger started in. Folded
values are per warm pass: each window is folded on its own and the results
are averaged.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

MB = 1 << 20

#: the e2e topology's four queries, keyed by a substring of their sink
#: description: q1-q2b write parquet handoff directories, q3 a memory sink
STREAM_QUERIES = (
    ("q1_dwd", "dwd_page"),
    ("q2a_dwm_uv", "dwm_uv"),
    ("q2b_dwm_uj", "dwm_uj"),
    ("q3_dws", "MemorySink"),
)
STATEFUL_QUERIES = ("q2a_dwm_uv", "q2b_dwm_uj", "q3_dws")
STREAM_FIELDS = ("batches", "data_batches", "busy_s", "add_batch_s", "planning_s",
                 "offsets_s", "commit_s")
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_failed_frac", "driver_gap_s",
                "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                "spill_mb")

_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def now_ms() -> float:
    return time.time() * 1000.0


class Spans:
    """In-memory span recorder: name, start, end (epoch ms), parent span and
    the pass every span of one pass shares. Written out once, at the end.
    A disabled recorder records nothing, so untraced runs pay nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    def span(self, name: str):
        return _Span(self, name) if self.enabled else contextlib.nullcontext()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class _Span:
    def __init__(self, rec: Spans, name: str) -> None:
        self.rec, self.name = rec, name

    def __enter__(self):
        rec = self.rec
        self.rec_ix = len(rec.spans)
        rec.spans.append({
            "name": self.name,
            "start_ms": now_ms(),
            "end_ms": None,
            "parent": rec._stack[-1] if rec._stack else None,
            "pass": rec.pass_id,
        })
        rec._stack.append(self.rec_ix)
        return rec.spans[self.rec_ix]

    def __exit__(self, *exc) -> None:
        self.rec.spans[self.rec_ix]["end_ms"] = now_ms()
        self.rec._stack.pop()


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event as its parsed JSON dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)


# ---------------------------------------------------------------------------
# folds
# ---------------------------------------------------------------------------
def _in(window, t_ms) -> bool:
    return t_ms is not None and window[1] <= t_ms <= window[2]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_eventlog(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: a plain log file, or the numbered
    ``events_<n>_<app>`` parts of a rolling log directory, in order."""
    parts = []
    for dirpath, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                parts.append((dirpath, int(f.split("_")[1]), f))
            elif not f.startswith((".", "appstatus")):
                parts.append((dirpath, 0, f))
    events = []
    for dirpath, _, f in sorted(parts):
        with open(os.path.join(dirpath, f)) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def fold_eventlog(events: list[dict], window) -> dict[str, float]:
    """Spark engine and Python-boundary counts of one pass window."""
    out = dict.fromkeys([f"spark.{f}" for f in SPARK_FIELDS], 0.0)
    out["python.worker_s"] = 0.0
    out["python.arrow_mb"] = 0.0
    stage_spans, failed = [], 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobEnd" and _in(window, ev.get("Completion Time")):
            out["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            end = info.get("Completion Time")
            if _in(window, end):
                out["spark.stages"] += 1
                stage_spans.append((info.get("Submission Time") or end, end))
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not _in(window, info.get("Finish Time")):
                continue
            out["spark.tasks"] += 1
            failed += bool(info.get("Failed"))
            m = ev.get("Task Metrics") or {}
            out["spark.executor_run_s"] += _num(m.get("Executor Run Time")) / 1e3
            out["spark.executor_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            out["spark.gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_mb"] += _num(sw.get("Shuffle Bytes Written")) / MB
            out["spark.spill_mb"] += _num(m.get("Disk Bytes Spilled")) / MB
            for acc in info.get("Accumulables") or ():
                name = acc.get("Name")
                if name == _PY_TIME:  # a timing SQL metric, in ms
                    out["python.worker_s"] += _num(acc.get("Update")) / 1e3
                elif name in _PY_BYTES:
                    out["python.arrow_mb"] += _num(acc.get("Update")) / MB
    if out["spark.tasks"]:
        out["spark.task_failed_frac"] = failed / out["spark.tasks"]
    width = window[2] - window[1]
    out["spark.driver_gap_s"] = (width - _union_ms(stage_spans, window[1], window[2])) / 1e3
    return out


def job_spans_by_group(events: list[dict]) -> dict[str, list[tuple[float, float]]]:
    """(submission, completion) of every job, keyed by its job group."""
    starts, groups, out = {}, {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev.get("Submission Time")
            groups[ev["Job ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            g = groups[ev["Job ID"]]
            out.setdefault(g, []).append((starts[ev["Job ID"]], ev.get("Completion Time")))
    return out


def _progress_ms(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def input_rows(p: dict) -> float:
    """Input rows of one progress; the event log's copy of a progress omits
    the derived top-level count, so fall back to the per-source counts."""
    if "numInputRows" in p:
        return _num(p["numInputRows"])
    return sum(_num(s.get("numInputRows")) for s in p.get("sources") or ())


def query_label(p: dict) -> str | None:
    desc = (p.get("sink") or {}).get("description", "")
    for label, marker in STREAM_QUERIES:
        if marker in desc:
            return label
    return None


def fold_progress(progress: list[dict], window, call_end_ms: float) -> dict[str, float]:
    """Per-query micro-batch phases, state size and the drain tail of one
    pass of the e2e topology. ``call_end_ms`` is when the topology call
    returned; the drain tail runs from the end of the last batch that
    carried input rows to then."""
    out = {}
    for label, _ in STREAM_QUERIES:
        for f in STREAM_FIELDS:
            out[f"streaming.{label}.{f}"] = 0.0
        if label in STATEFUL_QUERIES:
            out[f"streaming.{label}.state_rows"] = 0.0
            out[f"streaming.{label}.state_mb"] = 0.0
    last_data_end = None
    for p in progress:
        label = query_label(p)
        start = _progress_ms(p)
        if label is None or not _in(window, start):
            continue
        d = {k: _num(v) for k, v in (p.get("durationMs") or {}).items()}
        key = f"streaming.{label}."
        out[key + "batches"] += 1
        out[key + "busy_s"] += d.get("triggerExecution", 0.0) / 1e3
        out[key + "add_batch_s"] += d.get("addBatch", 0.0) / 1e3
        out[key + "planning_s"] += d.get("queryPlanning", 0.0) / 1e3
        out[key + "offsets_s"] += (
            d.get("latestOffset", 0.0) + d.get("getBatch", 0.0) + d.get("walCommit", 0.0)
        ) / 1e3
        out[key + "commit_s"] += d.get("commitOffsets", 0.0) / 1e3
        if input_rows(p) > 0:
            out[key + "data_batches"] += 1
            end = start + d.get("triggerExecution", 0.0)
            last_data_end = end if last_data_end is None else max(last_data_end, end)
        if label in STATEFUL_QUERIES:
            ops = p.get("stateOperators") or []
            rows = sum(_num(o.get("numRowsTotal")) for o in ops)
            mem = sum(_num(o.get("memoryUsedBytes")) for o in ops) / MB
            out[key + "state_rows"] = max(out[key + "state_rows"], rows)
            out[key + "state_mb"] = max(out[key + "state_mb"], mem)
    out["streaming.drain_tail_s"] = (
        (call_end_ms - last_data_end) / 1e3 if last_data_end is not None else 0.0
    )
    return out


def mean_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    if not dicts:
        return {}
    return {k: sum(d[k] for d in dicts) / len(dicts) for k in dicts[0]}
