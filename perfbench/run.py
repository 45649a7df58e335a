#!/usr/bin/env python3
"""The repository benchmark: the layered warehouse, end to end and layer by
layer, on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (one client, closed loop: the next call starts when the previous
one returns):

- ``batch_warehouse`` -- the batch layer chain in DWD -> DWM -> DWS order;
  each output is written with ``sinks.batch.write_parquet``. The JVM path:
  sources, operators, shuffle, aggregation, writes; no Python workers and
  no streaming.
- ``stream_warehouse`` -- the four-query live topology
  ``streaming_warehouse_e2e_append`` (q1 DWD, q2a/q2b DWM keyed pandas
  state, q3 DWS append) run to quiescence.

A run builds (or reuses) the seeded inputs, sets up the session, makes one
cold pass, then warm passes for ``--seconds``. Afterwards every call's last
output is compared with its DuckDB oracle (``tests/oracle.compare``),
outside the timed region. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the detail (host block, per-pass samples, loadavg, generation time,
failures). With ``--trace 1`` the metrics are the per-layer ones, folded
from spans the benchmark records around its calls, the Spark event log and
the streaming progress of the topology's queries.

Exit status: 0 when every call ran and matched its oracle; 1 when a call
failed (the failing calls are named on stderr) or when the program under
test is absent (an import error, before any result is printed).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import inputs  # noqa: E402  (imports tools.gen_sf: fails without the program)

WORK = os.path.join(HERE, ".work")
DEFAULT_SEED = 1
#: explicit driver heap: the session default (16g) does not fit a 15 GiB host
DRIVER_MEM = "3g"

BATCH_CALLS = (
    "is_new_repair",  # DWD
    "unique_visit",  # DWM
    "bounce_detect",
    "order_wide",
    "payment_wide",
    "visitor_stats",  # DWS
    "product_stats_full",
    "keyword_stats",
    "province_stats",
)
STREAM_CALL = "streaming_warehouse_e2e_append"

#: Sizes keep a run near 40 s (batch) and 75 s (stream) on 4 cores, so that
#: repeated runs of both workloads on two commits fit in an hour. At these sizes
#: both workloads are dominated by per-call and per-micro-batch fixed costs
#: (driver planning, scheduling, state-store and WAL commits).
WORKLOADS = {
    "batch_warehouse": {
        "sf": 0.02,
        "tables": ("customer", "supplier", "part", "orders", "lineitem", "events",
                   "documents"),
        "calls": BATCH_CALLS,
        "streaming": False,
    },
    "stream_warehouse": {
        "sf": 0.005,
        "tables": ("events",),
        "calls": (STREAM_CALL,),
        "streaming": True,
    },
}

END_TO_END = {
    "setup_s": "s",
    # process start to the first complete answer (set-up plus the cold
    # pass): what a one-shot refresh pays
    "first_answer_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run emits, on any workload."""
    from tracing import SPARK_FIELDS, STATEFUL_QUERIES, STREAM_FIELDS, STREAM_QUERIES

    names = ["session.get_spark_s", "session.warm_streaming_s",
             "sources.load_table_s", "sources.scan_s"]
    names += [f"queries.{c}_s" for c in BATCH_CALLS]
    names += ["sinks.output_mb", "sinks.commit_s"]
    for q, _ in STREAM_QUERIES:
        names += [f"streaming.{q}.{f}" for f in STREAM_FIELDS]
        if q in STATEFUL_QUERIES:
            names += [f"streaming.{q}.state_rows", f"streaming.{q}.state_mb"]
    names += ["streaming.drain_tail_s", "streaming.chunk_events_s"]
    names += [f"spark.{f}" for f in SPARK_FIELDS]
    names += ["python.worker_s", "python.arrow_mb", "trace.wall_s"]
    return names


# ---------------------------------------------------------------------------
# host and process tree
# ---------------------------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_block() -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return {
        "nproc": nproc(),
        "ram_gib": round(mem_kb / (1 << 20), 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_mem": DRIVER_MEM,
    }


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _children(pid: int) -> list[int]:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as fh:
            kids += [int(c) for c in fh.read().split()]
    return kids


def descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            kids = _children(p)
        except (FileNotFoundError, ProcessLookupError):
            continue
        out += kids
        stack += kids
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and its descendants, with pages shared
    between them (forked Python workers) counted once: the sum of PSS."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                total_kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            pass
    return total_kb / 1024


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval, self.peak = interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))


def become_subreaper() -> None:
    """Orphaned descendants (Python workers outliving the JVM) reparent to
    this process, so ``reap_all`` can wait for every one of them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_all(timeout: float = 60.0) -> None:
    """Terminate and wait for every remaining descendant."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants(os.getpid())
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a JVM that will not exit is killed
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------
def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total / (1 << 20)


def input_rows(sf_dir: str, tables) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f"{sf_dir}/{t}.parquet").num_rows for t in tables)


def prepare_env(run_dir: str, eventlog_dir: str | None) -> None:
    for sub in ("scratch", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM the run starts (the launcher and the driver): no
        # hsperfdata file under /tmp, temporary files in the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # takes precedence over spark.local.dir: shuffle and spill stay in
        # the run directory
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "scratch", "spark_local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if eventlog_dir:
        submit += ["--conf", "spark.eventLog.enabled=true",
                  "--conf", shlex.quote(f"spark.eventLog.dir=file://{eventlog_dir}"),
                  "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def clean_stale_runs() -> None:
    for d in glob.glob(os.path.join(WORK, "run_*")):
        try:
            pid = int(d.rsplit("_", 1)[1])
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def percentile_note(samples: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least ten
    samples beyond it (none below 11 samples)."""
    n = len(samples)
    out = {"n": n, "median": statistics.median(samples) if samples else None}
    best = None
    for p in (50, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is not None and best > 50:
        out[f"p{best}"] = statistics.quantiles(samples, n=100)[best - 1]
    out["highest_supported_percentile"] = best or 50
    return out


class Runner:
    def __init__(self, spark, workload: dict, sf_dir: str, out_dir: str, spans):
        import __spark_entry__

        self.spark, self.w, self.sf_dir, self.out_dir = spark, workload, sf_dir, out_dir
        self.queries = __spark_entry__.queries()
        self.spans = spans
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.last_df = {}
        self.output_mb: list[float] = []

    def call(self, name: str) -> None:
        from gmall_spark.sinks.batch import write_parquet

        self.attempted += 1
        if self.spans.enabled:
            self.spark.sparkContext.setJobGroup(name, name)
        try:
            with self.spans.span(f"call.{name}"):
                df = self.queries[name](self.spark, self.sf_dir)
                if self.w["streaming"]:
                    # the topology's result is a small DWS table; its sinks
                    # are the handoff directories and the memory sink
                    df.write.format("noop").mode("overwrite").save()
                else:
                    write_parquet(df, os.path.join(self.out_dir, name))
            self.last_df[name] = df
        except Exception as exc:  # noqa: BLE001 -- one failing call must not hide the rest
            self.failures.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])

    def one_pass(self, pass_id: str) -> dict:
        self.spans.pass_id = pass_id
        self.spark.catalog.clearCache()
        load0, cpu0 = os.getloadavg()[0], cpu_jiffies()
        t0 = time.perf_counter()
        with self.spans.span("pass"):
            for name in self.w["calls"]:
                self.call(name)
        wall = time.perf_counter() - t0
        cpu1 = cpu_jiffies()
        if not self.w["streaming"]:
            self.output_mb.append(dir_mb(self.out_dir))
        busy = sum(cpu1) - sum(cpu0)
        return {"pass": pass_id, "wall_s": wall, "loadavg_before": load0,
                "loadavg_after": os.getloadavg()[0],
                # CPU time the hypervisor gave to other guests
                "cpu_steal_frac": (cpu1[7] - cpu0[7]) / busy if busy else 0.0}

    def check(self) -> dict[str, str]:
        """Compare each call's last output with its oracle (untimed)."""
        from gmall_spark.queries import ORACLES
        from tests.oracle import compare, duck_connection

        con = duck_connection(self.sf_dir)
        results = {}
        try:
            for name in self.w["calls"]:
                if name not in self.last_df:
                    results[name] = "no output"
                    continue
                df = self.last_df[name]
                if not self.w["streaming"]:
                    df = self.spark.read.parquet(os.path.join(self.out_dir, name))
                try:
                    ok, msg = compare(df, con, ORACLES[name])
                except Exception as exc:  # noqa: BLE001 -- reported as a failed call
                    ok, msg = False, f"{type(exc).__name__}: {exc}"[:500]
                results[name] = msg
                if not ok:
                    self.failures.setdefault(name, f"oracle mismatch: {msg}")
        finally:
            con.close()
        return results


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    traced = bool(args.trace)

    become_subreaper()
    os.makedirs(WORK, exist_ok=True)
    clean_stale_runs()
    sf_dir, gen_s = inputs.build(os.path.join(WORK, "inputs"), args.workload,
                                 w["sf"], w["tables"], args.seed)
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    eventlog_dir = os.path.join(run_dir, "eventlog") if traced else None
    if eventlog_dir:
        os.makedirs(eventlog_dir)
    prepare_env(run_dir, eventlog_dir)

    import tracing as tr
    from gmall_spark.session import get_spark
    from gmall_spark.sources import load_table

    spans = tr.Spans(enabled=traced)
    spans.pass_id = "setup"
    spark = None
    try:
        with spans.span("session.get_spark"):
            spark = get_spark("perfbench")
        if w["streaming"]:
            from gmall_spark.streaming.multibatch import chunk_events
            from gmall_spark.streaming.pipelines import warm_streaming

            with spans.span("session.warm_streaming"):
                warm_streaming(spark)
            # the topology streams from the chunk cache; build it in set-up
            with spans.span("streaming.chunk_events"):
                chunk_events(spark, sf_dir, 3)
        setup_s = time.perf_counter() - T_START - gen_s

        listener = tr.ProgressListener() if traced and w["streaming"] else None
        if listener:
            spark.streams.addListener(listener)
        runner = Runner(spark, w, sf_dir, os.path.join(run_dir, "out"), spans)
        passes = []
        with RssSampler() as rss:
            passes.append(runner.one_pass("cold"))
            t_warm = time.perf_counter()
            while len(passes) < 2 or time.perf_counter() - t_warm < args.seconds:
                passes.append(runner.one_pass(f"warm{len(passes)}"))
        oracle = runner.check()
        if listener:
            spark.streams.removeListener(listener)
        if traced:
            # the sources layer on its own: build each input DataFrame, then
            # scan it once
            spans.pass_id = "sources"
            for t in w["tables"]:
                with spans.span("sources.load_table"):
                    df = load_table(spark, sf_dir, t)
                with spans.span("sources.scan"):
                    df.write.format("noop").mode("overwrite").save()
        # stopping the context flushes and closes the event log
        stop_spark(spark)
        spark = None
        layer = {}
        progress = listener.snapshot() if listener else []
        if traced:
            layer = fold_layers(spans, w, passes, eventlog_dir, progress, runner)
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_all()

    warm = [p["wall_s"] for p in passes[1:]]
    wall_s = statistics.median(warm)
    rows = input_rows(sf_dir, w["tables"])
    failed = len(runner.failures)
    e2e = {
        "setup_s": setup_s,
        "first_answer_s": setup_s + passes[0]["wall_s"],
        "wall_s": wall_s,
        "rows_per_s": rows / wall_s,
        "peak_rss_mb": rss.peak,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host_block(),
        "input": {"sf": w["sf"], "rows": rows, "gen_s": gen_s, "dir": os.path.relpath(sf_dir, ROOT)},
        "cold_wall_s": passes[0]["wall_s"],
        "wall_s_samples": percentile_note(warm),
        "passes": passes,
        "error_rate": failed / runner.attempted,
        "oracle": oracle,
        "failures": runner.failures,
        "end_to_end": e2e,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    result_path = os.path.join(WORK, "results", f"{args.workload}.json")
    if traced:
        detail["per_layer"] = layer
        detail["tracing_overhead_s"] = None
        try:
            with open(result_path) as fh:
                base = json.load(fh)
            detail["tracing_overhead_s"] = wall_s - base["end_to_end"]["wall_s"]
            detail["tracing_overhead_base_seed"] = base["seed"]
        except (OSError, ValueError, KeyError):
            detail["tracing_overhead_note"] = "no untraced run of this workload recorded yet"
        with open(os.path.join(WORK, "results", f"{args.workload}.trace.json"), "w") as fh:
            json.dump({"detail": detail, "spans": spans.spans, "progress": progress}, fh)
    else:
        with open(result_path, "w") as fh:
            json.dump(detail, fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    if traced:
        metrics = {k: {"value": layer[k], "unit": _layer_unit(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail, default=float))
    for name, why in runner.failures.items():
        print(f"perfbench: call {name} failed: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 1 if failed else 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def fold_layers(spans, w, passes, eventlog_dir, progress, runner) -> dict[str, float]:
    """Per-layer metrics of one traced run, per warm pass."""
    import tracing as tr

    out = dict.fromkeys(per_layer_names(), 0.0)

    def total(name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans.named(name)) / 1e3

    out["session.get_spark_s"] = total("session.get_spark")
    out["session.warm_streaming_s"] = total("session.warm_streaming")
    out["streaming.chunk_events_s"] = total("streaming.chunk_events")
    out["sources.load_table_s"] = total("sources.load_table")
    out["sources.scan_s"] = total("sources.scan")

    warm_ids = [p["pass"] for p in passes[1:]]
    pass_spans = {s["pass"]: s for s in spans.named("pass")}
    windows = [(pid, pass_spans[pid]["start_ms"], pass_spans[pid]["end_ms"]) for pid in warm_ids]
    calls = [s for s in spans.spans if s["name"].startswith("call.") and s["pass"] in warm_ids]
    for name in w["calls"]:
        if f"queries.{name}_s" in out:
            mine = [s for s in calls if s["name"] == f"call.{name}"]
            out[f"queries.{name}_s"] = sum(s["end_ms"] - s["start_ms"] for s in mine) / 1e3 / len(windows)

    events = tr.read_eventlog(eventlog_dir)
    out.update(tr.mean_of([tr.fold_eventlog(events, win) for win in windows]))

    if not w["streaming"]:
        out["sinks.output_mb"] = statistics.mean(runner.output_mb[1:])
        jobs = tr.job_spans_by_group(events)
        commit = 0.0
        for s in calls:
            name = s["name"][len("call."):]
            ends = [e for b, e in jobs.get(name, ()) if s["start_ms"] <= e <= s["end_ms"]]
            if ends:
                commit += (s["end_ms"] - max(ends)) / 1e3
        out["sinks.commit_s"] = commit / len(windows)
    if w["streaming"]:
        per = []
        for win in windows:
            end = next(s["end_ms"] for s in calls if s["pass"] == win[0])
            per.append(tr.fold_progress(progress, win, end))
        out.update(tr.mean_of(per))
    out["trace.wall_s"] = statistics.median(p["wall_s"] for p in passes[1:])
    return out


if __name__ == "__main__":
    sys.exit(main())
