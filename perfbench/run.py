#!/usr/bin/env python3
"""Frontier benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload wave_steady --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Each workload is a closed loop in one
process: set up (session, seeded inputs, one warm-up wave of the same shape),
then timed iterations back to back until --seconds have passed (at least
one). Every iteration is checked for correctness; a check that fails or an
exception counts the iteration as failed. With --trace 0 the result holds
the end-to-end metrics (medians over the iterations of the run); with
--trace 1 it holds the per-layer metrics of perfbench/tracing.py. See
perfbench/README.md for the definitions and the session settings.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # set-up time counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Session settings, identical for every commit measured
DRIVER_MEMORY = "2g"  # fits a 15 GB machine shared with other processes
PARTITIONS_PER_CORE = 1  # spark.sql.shuffle.partitions = cores
WARMUP_FRACTION = 8  # the warm-up wave runs on 1/8 of the input
RESTORES = 3  # restores per traced iteration; ckpt.restore_s is their median


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- process RSS
class MemorySampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc. Each process
    counts its PSS, so pages that forked Python workers share with their
    daemon are counted once instead of once per worker. Reading a process's
    smaps_rollup walks its page tables under its mmap lock, which took about
    26 ms for the JVM, so one sample a second keeps the stalls small."""

    def __init__(self, interval: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_pss() -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.tree_pss())

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# -------------------------------------------------------------------- session
def start_spark(cores: int, event_log: str | None = None):
    from siteone_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.logStageExecutorMetrics"] = "true"
    return get_spark(
        "perfbench", cores=cores, shuffle_partitions=PARTITIONS_PER_CORE * cores,
        extra_conf=conf,
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ workloads
class CheckFailed(Exception):
    pass


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


class Ctx:
    """What a workload needs from the run: session, seed, scratch dirs, and
    how many times an iteration restores its checkpoint (traced runs only)."""

    def __init__(self, spark, seed: int, cores: int, restores: int = 0) -> None:
        self.spark, self.seed, self.cores = spark, seed, cores
        self.restores = restores

    @staticmethod
    def new_dir() -> str:
        return tempfile.mkdtemp(prefix="ckpt-", dir=WORK)


def make_engine(ctx: Ctx, cfg, ckpt: str, seen_keys: int | None):
    from siteone_crawler_spark.engine import CrawlEngine

    eng = CrawlEngine(ctx.spark, cfg, ckpt)
    if seen_keys is not None:
        # scaled-down seen-set thresholds: the bloom prefilter arm and the
        # bucketed exact anti-join run at a frontier seeded in seconds
        eng.seen.bloom_min_keys = seen_keys
        eng.seen.broadcast_max_keys = seen_keys
    return eng


def _phase_us(metric_rows) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in metric_rows:
        if r["stage"].startswith("time_us:"):
            k = r["stage"].split(":", 1)[1]
            out[k] = out.get(k, 0) + r["rows"]
    return out


WAVE_SEEDS = [("https://h0000.bench.test/p/0", 5)]


@dataclass
class Wave:
    """One steady-state wave over a pre-seeded frontier.

    global_budget / host_budget > 0 turn on politeness admission; seen_frac
    sets the seen-set thresholds (bloom prefilter and bucketed exact join)
    as a fraction of the frontier. Sizes and budgets scale with `frac` in
    setup()."""

    n_frontier: int
    global_budget: int = 0
    host_budget: int = 0
    seen_frac: float | None = None

    def _view(self, n, k):
        from pyspark.sql import functions as F

        from siteone_crawler_spark.config import CrawlConfig

        cfg = CrawlConfig(
            allowed_domains=("*.bench.test",),
            max_visited_urls=10**12,
            max_queue_length=10**12,
            global_wave_budget=k,
            per_host_wave_budget=self.hb if k else 0,
        )
        fr = self.frontier.filter(F.col("seq") < n) if n < self.n else self.frontier
        seen_keys = int(n * self.seen_frac) if self.seen_frac else None
        return fr, n, cfg, seen_keys

    def _admitted(self) -> list[int]:
        """Ids the wave must visit. Every frontier row has depth 2, so a
        global budget admits the lowest seqs and a per-host budget the
        lowest seqs of each host."""
        rows = self.host_seq[: self.k] if self.k else self.host_seq
        if not self.k or not self.hb:
            return [s for _h, s in rows]
        taken: dict[str, int] = {}
        ids = []
        for h, s in rows:
            taken[h] = taken.get(h, 0) + 1
            if taken[h] <= self.hb:
                ids.append(s)
        return ids

    def setup(self, ctx: Ctx, frac: float) -> None:
        import inputs

        self.n = max(8, int(self.n_frontier * frac))
        self.k = int(self.global_budget * frac)
        self.hb = max(1, int(self.host_budget * frac)) if self.host_budget else 0
        n_part = max(PARTITIONS_PER_CORE * ctx.cores, 4)
        # docs exist for the admitted slice only when a budget bounds the wave
        n_docs = self.k if self.k else 2 * self.n
        self.docs, self.meta, self.robots = inputs.corpus(
            ctx.spark, ctx.seed, n_docs, 2 * self.n, n_part
        )
        self.frontier = inputs.frontier(ctx.spark, ctx.seed, self.n)
        self.host_seq = sorted(
            ((r["host"], r["seq"]) for r in self.frontier.select("host", "seq").collect()),
            key=lambda r: r[1],
        )
        # the expected output, computed from the inputs alone
        ids = self._admitted()
        self.expect_visited = len(ids)
        self.expect_new = inputs.new_link_count(
            ctx.spark, ctx.seed, ids, 2 * self.n, self.n
        )

    def warmup(self, ctx: Ctx) -> None:
        view = self._view(self.n // WARMUP_FRACTION, self.k // WARMUP_FRACTION)
        self._iterate(ctx, *view, timed=False)

    def iterate(self, ctx: Ctx) -> dict:
        return self._iterate(ctx, *self._view(self.n, self.k))

    def _iterate(self, ctx, fr, n, cfg, seen_keys, timed=True) -> dict:
        ckpt = ctx.new_dir()
        eng = make_engine(ctx, cfg, ckpt, seen_keys)
        t = time.monotonic()
        eng.seed_frontier(fr)
        seed_s = time.monotonic() - t
        bytes0 = _dir_bytes(ckpt)
        w0, t = time.time(), time.monotonic()
        tables = eng.run(
            self.docs, self.meta, self.robots, WAVE_SEEDS, max_waves=1,
            external_frontier=fr, preseeded=True,
        )
        run_s, w1 = time.monotonic() - t, time.time()
        if not timed:
            shutil.rmtree(ckpt)
            return {}
        ckpt_bytes = _dir_bytes(ckpt) - bytes0
        rows = tables["metrics"].collect()
        store = eng.store
        n_vis = store.count_rows("visited", 0)
        n_new = store.count_rows("frontier", 1)
        n_def = store.count_rows("deferred", 1)
        self._check(store, fr, n, n_vis, n_new, n_def, cfg)
        cands = sum(r["rows"] for r in rows if r["stage"] == "candidates")

        r0 = time.time()
        for _ in range(ctx.restores):
            self._restore(ctx, cfg, ckpt, seen_keys)
        shutil.rmtree(ckpt)
        return {
            "run_s": run_s, "seed_s": seed_s,
            "urls": n_vis + n_new, "candidates": cands, "ckpt_bytes": ckpt_bytes,
            "window": (w0, w1), "restore_window": (r0, time.time()),
            "phase_us": _phase_us(rows), "deferred_rows": n_def,
        }

    def _restore(self, ctx, cfg, ckpt, seen_keys) -> None:
        """A fresh engine restores the checkpoint and runs no wave."""
        make_engine(ctx, cfg, ckpt, seen_keys).run(
            self.docs, self.meta, self.robots, WAVE_SEEDS, max_waves=0
        )

    def _check(self, store, fr, n, n_vis, n_new, n_def, cfg) -> None:
        from pyspark.sql import functions as F

        from siteone_crawler_spark.engine import FRONTIER_SCHEMA

        bad = []
        if n_vis != self.expect_visited:
            bad.append(f"visited {n_vis} != admitted {self.expect_visited}")
        if n_new != self.expect_new:
            bad.append(f"enqueued {n_new} != new link targets {self.expect_new}")
        if cfg.global_wave_budget and n_vis + n_def != n:
            bad.append(f"visited {n_vis} + deferred {n_def} != frontier {n}")
        new = store.read_wave("frontier", 1, FRONTIER_SCHEMA)
        a = new.agg(
            F.count("*").alias("n"), F.countDistinct("url_key").alias("keys"),
            F.countDistinct("seq").alias("seqs"), F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
        ).first()
        if a["n"] != n_new:
            bad.append(f"enqueued {a['n']} rows (footers say {n_new})")
        if a["keys"] != a["n"]:
            bad.append(f"enqueued url_keys not distinct ({a['keys']} of {a['n']})")
        if a["n"] and (a["seqs"] != a["n"] or a["lo"] != n or a["hi"] != n + a["n"] - 1):
            bad.append(f"seq not contiguous from {n}: {a['lo']}..{a['hi']}")
        if new.join(fr.select("url_key"), "url_key", "left_semi").limit(1).count():
            bad.append("enqueued url_keys overlap the seeded frontier")
        if bad:
            raise CheckFailed("; ".join(bad))


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    "wave_steady": Wave(n_frontier=16_000),
    "wave_polite_bloom": Wave(
        n_frontier=33_000, global_budget=1_000, host_budget=50, seen_frac=10 / 11
    ),
}


# ---------------------------------------------------------------------- main
def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _timed_loop(wl, ctx: Ctx, seconds: float, log) -> tuple[list[dict], int]:
    """Iterate until `seconds` have passed (at least once); returns the
    successful iterations and the number that failed."""
    ok: list[dict] = []
    failed = 0
    t0 = time.monotonic()
    while not ok and not failed or time.monotonic() - t0 < seconds:
        try:
            ok.append(wl.iterate(ctx))
        except Exception:  # noqa: BLE001 — a failed iteration is counted
            failed += 1
            log(traceback.format_exc())
    return ok, failed


def end_to_end(ok: list[dict], setup_once: float, peak_rss: int) -> dict:
    med = statistics.median
    return {
        "setup_s": (setup_once + med([i["seed_s"] for i in ok]), "s"),
        "run_s": (med([i["run_s"] for i in ok]), "s"),
        "urls_per_sec": (med([i["urls"] / i["run_s"] for i in ok]), "URL/s"),
        "candidates_per_sec": (med([i["candidates"] / i["run_s"] for i in ok]), "rows/s"),
        "ckpt_bytes_per_url": (med([i["ckpt_bytes"] / i["urls"] for i in ok]), "B/URL"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(wl, ctx: Ctx, ok: list[dict], tracer, event_log: str) -> dict:
    """Per-layer medians over the traced iterations, then the weak-scaling
    twin: the same workload on 1/nproc of the input at local[1], in a fresh
    session of the same JVM, traced the same way (event log on for the
    whole session, spans around the timed wave)."""
    from tracing import ARM_NAMES, PER_LAYER, EventLog, iteration_layers

    ctx.spark.stop()  # flushes the event log
    log = EventLog.from_dir(event_log)
    rows = [iteration_layers(it, tracer, log, ctx.cores) for it in ok]
    values = {name: statistics.median(r[name] for r in rows) for name in rows[0]}
    print(f"  seen.arm = {ARM_NAMES[int(values['seen.arm'])]}")

    ctx.spark = start_spark(1, event_log + "_serial")
    twin = Ctx(ctx.spark, ctx.seed, 1)
    wl.setup(twin, 1.0 / ctx.cores)
    wl.warmup(twin)
    with tracer:
        serial = wl.iterate(twin)["run_s"]
    values["scaling.serial_run_s"] = serial
    values["scaling.efficiency"] = serial / values["trace.run_s"]
    print(f"  scaling_efficiency = run_s(local[1], 1/{ctx.cores} input) / "
          f"run_s(local[{ctx.cores}]) = {serial:.3f} / {values['trace.run_s']:.3f}"
          f" = {values['scaling.efficiency']:.3f} (both traced; not gated)")
    return {name: (values[name], unit) for name, unit, _better in PER_LAYER}


def run(args) -> int:
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    from tracing import Tracer

    wl = WORKLOADS[args.workload]
    cores = _cores()
    event_log = os.path.join(WORK, "eventlog") if args.trace else None
    rss = MemorySampler()
    rss.start()
    ctx = Ctx(None, args.seed, cores, RESTORES if args.trace else 0)
    try:
        ctx.spark = start_spark(cores, event_log)
        log(f"set-up: session up at {time.monotonic() - T_START:.2f}s")
        wl.setup(ctx, 1.0)
        log(f"set-up: inputs ready at {time.monotonic() - T_START:.2f}s")
        wl.warmup(ctx)
        setup_once = time.monotonic() - T_START
        log(f"set-up: warm-up done at {setup_once:.2f}s")
        tracer = Tracer() if args.trace else contextlib.nullcontext()
        with tracer:
            ok, failed = _timed_loop(wl, ctx, args.seconds, log)
        peak_rss = rss.stop()
        if not ok:
            log("every iteration failed")
            return 1
        attempted = len(ok) + failed
        print(f"workload {args.workload} seed {args.seed} local[{cores}] "
              f"iterations {attempted} failed {failed} "
              f"failed_frac {failed / attempted:.3f}")
        if args.trace:
            metrics = per_layer(wl, ctx, ok, tracer, event_log)
        else:
            metrics = end_to_end(ok, setup_once, peak_rss)
            samples = {
                "run_s": [i["run_s"] for i in ok],
                "seed_s": [i["seed_s"] for i in ok],
            }
            for key, vals in samples.items():
                q1, q2, q3 = _quartiles(vals)
                print(f"  {key}: median {q2:.4f} q1 {q1:.4f} q3 {q3:.4f} runs "
                      + " ".join(f"{v:.4f}" for v in vals))
        for name, (value, unit) in metrics.items():
            print(f"  {name} = {value:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if rss.is_alive():
            rss.stop()
        stop_jvm(ctx.spark)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "siteone_crawler_spark", "__init__.py")):
        print(f"no siteone_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # every temp and spill file of this process, the JVM and the Python
    # workers stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    try:
        return run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
