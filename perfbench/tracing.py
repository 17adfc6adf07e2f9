"""Per-layer tracing for the traced run (`--trace 1`).

Two sources, both outside the program:

* driver-side spans: `Tracer` wraps public entry points of the engine, the
  checkpoint store, the seen set and the global ranker for the life of the
  traced run and restores them afterwards;
* Spark's own event log (jobs, stages, tasks, SQL plans and SQL metrics),
  turned on through `get_spark(extra_conf=...)` and parsed after the session
  stops.

Work is attributed to a timed iteration by time window: a job or SQL
execution belongs to it when it was submitted inside the window the
benchmark recorded around the timed wave; a span when it started inside
it. Spark is lazy, so a `write_table` span includes the upstream plan it
materializes; the event-log operator metrics (`urls.*`, `seen.*`) attribute
that time to operators.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

# checkpoint tables whose writes are reported one by one
CKPT_TABLES = (
    "frontier", "seen", "visited", "skipped", "deferred", "metrics", "lineage",
    "blooms",
)
# seen.arm codes (the executed plan decides the arm)
ARM_NONE, ARM_BROADCAST, ARM_BLOOM = 0, 1, 2
ARM_NAMES = {ARM_NONE: "none", ARM_BROADCAST: "broadcast", ARM_BLOOM: "bloom"}


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += f.endswith(".parquet")
    return n_bytes, n_files


class Tracer:
    """Records a span around each call into the wrapped entry points.

    A span is a dict: name, t0, t1 (epoch seconds), parent (index of the
    enclosing span on the same thread, or None) and attributes. The engine
    runs some calls on pool threads; those spans have no parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def __enter__(self) -> "Tracer":
        from siteone_crawler_spark import engine
        from siteone_crawler_spark.operators.seen import SeenSet
        from siteone_crawler_spark.sources.checkpoint import CheckpointStore

        def table_attrs(a, kw, out):
            return {"table": a[1]}

        def write_attrs(a, kw, out):
            store, table, wave = a[0], a[1], a[2]
            n_bytes, n_files = _dir_stats(store._wave_dir(table, wave))
            return {"table": table, "bytes": n_bytes, "files": n_files}

        targets = [
            (engine.CrawlEngine, "run", None),
            (engine.CrawlEngine, "seed_frontier", None),
            (engine.CrawlEngine, "invalidate", None),
            (CheckpointStore, "write_table", write_attrs),
            (CheckpointStore, "commit_wave", None),
            (CheckpointStore, "count_rows", table_attrs),
            (CheckpointStore, "min_stat", table_attrs),
            (CheckpointStore, "read_all_partitioned", table_attrs),
            (SeenSet, "absorb", None),
            (SeenSet, "filter_new", None),
            # the engine calls the ranker through its own module namespace
            (engine, "with_global_seq", lambda a, kw, out: {"rows": out[1]}),
        ]
        for owner, attr, attrs in targets:
            orig = getattr(owner, attr)
            name = f"{getattr(owner, '__name__', '').rsplit('.', 1)[-1]}.{attr}"
            setattr(owner, attr, self._wrap(name, orig, attrs))
            self._patches.append((owner, attr, orig))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap(self, name, fn, attrs):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            span = {"name": name, "t0": time.time(), "t1": None,
                    "parent": stack[-1] if stack else None}
            with tracer._lock:
                tracer.spans.append(span)
                idx = len(tracer.spans) - 1
            stack.append(idx)
            try:
                out = fn(*a, **kw)
            finally:
                stack.pop()
                span["t1"] = time.time()
            if attrs is not None:
                span.update(attrs(a, kw, out))
            return out

        return wrapper

    def in_window(self, window, name: str) -> list[dict]:
        """Spans of `name` that started inside the window."""
        return [
            s for s in self.spans if s["name"] == name and _inside(s["t0"], window)
        ]


def _inside(t: float, window) -> bool:
    return window[0] <= t <= window[1]


# ----------------------------------------------------------------- event log
class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}  # job id -> {t, stages}
        self.stages: dict[int, dict] = {}  # stage id -> {accums, heap}
        self.tasks: list[dict] = []
        self.sql_time: dict[int, float] = {}  # execution id -> start (epoch s)
        self.plans: dict[int, list[dict]] = {}  # execution id -> plan trees
        self.accum: dict[int, float] = {}  # accumulator id -> final value
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        return cls(files[0])

    def _note_accums(self, accs, ids: set | None = None) -> None:
        for a in accs or ():
            try:
                v = float(a.get("Value"))
            except (TypeError, ValueError):
                continue
            self.accum[a["ID"]] = max(v, self.accum.get(a["ID"], v))
            if ids is not None:
                ids.add(a["ID"])

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "t": e["Submission Time"] / 1000.0, "stages": e["Stage IDs"],
            }
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], {"accums": set(), "heap": 0})
            self._note_accums(info.get("Accumulables"), st["accums"])
        elif ev == "SparkListenerStageExecutorMetrics":
            # peak JVM heap used while the stage ran (driver = executor in local mode)
            st = self.stages.setdefault(e["Stage ID"], {"accums": set(), "heap": 0})
            heap = (e.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            st["heap"] = max(st["heap"], heap)
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self._note_accums(info.get("Accumulables"))
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run": m.get("Executor Run Time", 0) / 1000.0,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "sh_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "sh_write": sw.get("Shuffle Bytes Written", 0),
            })
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            self.sql_time[e["executionId"]] = e["time"] / 1000.0
            self.plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                self.accum[acc_id] = max(float(v), self.accum.get(acc_id, float(v)))


def _walk(node):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def _metric_ids(node, metric: str) -> set[int]:
    return {m["accumulatorId"] for m in node.get("metrics", ()) if m["name"] == metric}


def _probe_udf(node):
    """The maybe_seen UDF node a Filter reads directly (through codegen
    adapters), or None."""
    kids = node.get("children", ())
    while kids and kids[0]["nodeName"] == "InputAdapter":
        kids = kids[0].get("children", ())
    if kids and kids[0]["nodeName"] == "ArrowEvalPython" and (
        "maybe_seen" in kids[0].get("simpleString", "")
    ):
        return kids[0]
    return None


def _probe_filter(node):
    """The first Filter over the maybe_seen UDF in a join input, or None."""
    for n in _walk(node):
        if n["nodeName"] == "Filter" and _probe_udf(n) is not None:
            return n
        if "Join" in n["nodeName"] and n is not node:
            return None
    return None


def _exchanges(node):
    """Exchange nodes that feed `node`'s output directly (through codegen,
    sorts and query stages; not through joins or cached relations)."""
    name = node["nodeName"]
    if "Exchange" in name:
        yield node
    elif "Join" not in name and name != "InMemoryTableScan":
        for c in node.get("children", ()):
            yield from _exchanges(c)


# ------------------------------------------------------------ layer metrics
PER_LAYER = [
    # (name, unit, better)
    ("trace.run_s", "s", "lower"),
    ("engine.jobs_per_wave", "count", "lower"),
    ("engine.stages_per_wave", "count", "lower"),
    ("engine.tasks_per_wave", "count", "lower"),
    ("engine.phase_s.breaker_precheck", "s", "lower"),
    ("engine.phase_s.visited_candidates", "s", "lower"),
    ("engine.phase_s.skipped_finalize", "s", "lower"),
    ("engine.deferred_rows", "rows", "lower"),
    ("urls.udf_rows", "rows", "lower"),
    ("urls.python_bytes_sent", "B", "lower"),
    ("urls.python_bytes_received", "B", "lower"),
    ("urls.udf_task_s", "s", "lower"),
    ("seen.arm", "code", "lower"),
    ("seen.probe_rows", "rows", "lower"),
    ("seen.maybe_rows", "rows", "lower"),
    ("seen.maybe_frac", "ratio", "lower"),
    ("seen.absorb_s", "s", "lower"),
    ("seen.key_side_probe_rows", "rows", "lower"),
    ("seen.exact_join_bytes", "B", "lower"),
    ("ordering.rank_s", "s", "lower"),
    ("ordering.rows", "rows", "higher"),
    *[(f"ckpt.write_s.{t}", "s", "lower") for t in CKPT_TABLES],
    *[(f"ckpt.bytes.{t}", "B", "lower") for t in CKPT_TABLES],
    ("ckpt.files_written", "count", "lower"),
    ("ckpt.commit_s", "s", "lower"),
    ("ckpt.footer_reads", "count", "lower"),
    ("ckpt.restore_s", "s", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.peak_heap_mb", "MB", "lower"),
    ("spark.core_busy_frac", "ratio", "higher"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("scaling.serial_run_s", "s", "lower"),
    ("scaling.efficiency", "ratio", "higher"),
]


def iteration_layers(it: dict, tracer: Tracer, log: EventLog, cores: int) -> dict:
    """Per-layer values of one timed iteration (one wave).

    `it` carries the wave's timed window, run_s, the engine's own
    metrics-table phase times, its deferred-row count and the restore
    window."""
    win = it["window"]
    out: dict[str, float] = {
        "trace.run_s": it["run_s"],
        "engine.deferred_rows": it["deferred_rows"],
    }

    # --- engine: job / stage / task counts and the engine's phase rows
    jobs = [j for j in log.jobs.values() if _inside(j["t"], win)]
    stage_ids = {s for j in jobs for s in j["stages"] if s in log.stages}
    tasks = [t for t in log.tasks if t["stage"] in stage_ids]
    out["engine.jobs_per_wave"] = len(jobs)
    out["engine.stages_per_wave"] = len(stage_ids)
    out["engine.tasks_per_wave"] = len(tasks)
    phases = it["phase_us"]
    out["engine.phase_s.breaker_precheck"] = phases.get("breaker_precheck", 0) / 1e6
    out["engine.phase_s.visited_candidates"] = (
        phases.get("visited+candidates_materialize", 0) / 1e6
    )
    out["engine.phase_s.skipped_finalize"] = phases.get("skipped+finalize", 0) / 1e6

    # --- spark: task metrics
    wall = win[1] - win[0]
    run = sum(t["run"] for t in tasks)
    out["spark.executor_run_s"] = run
    out["spark.executor_cpu_s"] = sum(t["cpu"] for t in tasks)
    out["spark.gc_s"] = sum(t["gc"] for t in tasks)
    out["spark.peak_heap_mb"] = max(
        (log.stages[s]["heap"] for s in stage_ids), default=0
    ) / 2**20
    out["spark.core_busy_frac"] = run / (cores * wall) if wall else 0.0
    out["spark.shuffle_write_bytes"] = sum(t["sh_write"] for t in tasks)
    out["spark.shuffle_read_bytes"] = sum(t["sh_read"] for t in tasks)
    out["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["dur"])
    if by_stage:
        biggest = max(by_stage.values(), key=sum)
        med = statistics.median(biggest)
        out["spark.task_skew"] = max(biggest) / med if med > 0 else 1.0
    else:
        out["spark.task_skew"] = 0.0

    # --- SQL operators: resolve UDF, seen-set arm, maybe-seen slice
    resolve: dict[str, set[int]] = {"rows": set(), "sent": set(), "recv": set()}
    seen: dict[str, set[int]] = {"new": set(), "maybe": set(), "keys": set(), "bytes": set()}
    arm = ARM_NONE
    for ex_id, t_sql in log.sql_time.items():
        if not _inside(t_sql, win):
            continue
        for plan in log.plans[ex_id]:
            for node in _walk(plan):
                name, text = node["nodeName"], node.get("simpleString", "")
                if name == "ArrowEvalPython" and "resolve_udf" in text:
                    resolve["rows"] |= _metric_ids(node, "number of output rows")
                    resolve["sent"] |= _metric_ids(node, "data sent to Python workers")
                    resolve["recv"] |= _metric_ids(
                        node, "data returned from Python workers"
                    )
                elif name == "Filter" and text.startswith("Filter NOT") and _probe_udf(node):
                    seen["new"] |= _metric_ids(node, "number of output rows")
                if "Join" not in name or "LeftAnti" not in text or "url_key" not in text:
                    continue
                if "__bucket" in text:  # bloom arm: exact join of the maybe slice
                    arm = ARM_BLOOM
                    left, right = node["children"][:2]
                    maybe = _probe_filter(left)
                    if maybe is not None:
                        seen["maybe"] |= _metric_ids(maybe, "number of output rows")
                    # the optimizer also infers the bloom predicate on the
                    # seen-key side: every seen key is probed each wave
                    keys = _probe_filter(right)
                    if keys is not None:
                        seen["keys"] |= _metric_ids(
                            _probe_udf(keys), "number of output rows"
                        )
                elif name == "BroadcastHashJoin" and arm == ARM_NONE:
                    arm = ARM_BROADCAST
                # the seen-key side: broadcast, or shuffled when too big
                for x in _exchanges(node["children"][1]):
                    seen["bytes"] |= _metric_ids(x, "shuffle bytes written")
                    seen["bytes"] |= _metric_ids(x, "data size")

    def total(ids):
        return sum(log.accum.get(i, 0.0) for i in ids)

    out["urls.udf_rows"] = total(resolve["rows"])
    out["urls.python_bytes_sent"] = total(resolve["sent"])
    out["urls.python_bytes_received"] = total(resolve["recv"])
    udf_stages = {
        s for s in stage_ids
        if log.stages[s]["accums"] & (resolve["rows"] | resolve["sent"])
    }
    out["urls.udf_task_s"] = sum(t["run"] for t in tasks if t["stage"] in udf_stages)
    out["seen.arm"] = arm
    maybe = total(seen["maybe"])
    probes = total(seen["new"]) + maybe  # candidates entering the prefilter
    out["seen.probe_rows"] = probes
    out["seen.maybe_rows"] = maybe
    out["seen.maybe_frac"] = maybe / probes if probes else 0.0
    out["seen.key_side_probe_rows"] = total(seen["keys"])
    out["seen.exact_join_bytes"] = total(seen["bytes"])

    # --- driver-side spans
    def span_s(name):
        return sum(s["t1"] - s["t0"] for s in tracer.in_window(win, name))

    out["seen.absorb_s"] = span_s("SeenSet.absorb")
    out["ordering.rank_s"] = span_s("engine.with_global_seq")
    out["ordering.rows"] = sum(
        s.get("rows", 0) for s in tracer.in_window(win, "engine.with_global_seq")
    )
    writes = tracer.in_window(win, "CheckpointStore.write_table")
    for t in CKPT_TABLES:
        mine = [s for s in writes if s["table"] == t]
        out[f"ckpt.write_s.{t}"] = sum(s["t1"] - s["t0"] for s in mine)
        out[f"ckpt.bytes.{t}"] = sum(s["bytes"] for s in mine)
    out["ckpt.files_written"] = sum(s["files"] for s in writes)
    out["ckpt.commit_s"] = span_s("CheckpointStore.commit_wave")
    out["ckpt.footer_reads"] = len(
        tracer.in_window(win, "CheckpointStore.count_rows")
    ) + len(tracer.in_window(win, "CheckpointStore.min_stat"))
    restores = tracer.in_window(it["restore_window"], "CrawlEngine.run")
    out["ckpt.restore_s"] = statistics.median(
        s["t1"] - s["t0"] for s in restores
    ) if restores else 0.0
    return out
