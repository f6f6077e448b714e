"""Runs one workload: set-up, warm-up, the timed closed loop and the checks.

Untraced runs report the end-to-end metrics. A traced run executes one
pass twice in lockstep, once under the :class:`Tracer` and once without;
it reports the per-layer sums of the traced pass and the ratio of the two
passes' times as the tracing overhead.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

from perfbench import datagen
from perfbench.checks import query_result
from perfbench.workloads import WORKLOADS, Ctx, Op, new_pass_dir


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and every process below it, as the sum of
    proportional set sizes: a page shared by several processes counts once
    in total. (Summed RSS would count the JVM twice whenever it forks a
    short-lived helper, which shares all its pages.)"""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class Result:
    """Outcome counts, latencies and per-op layer metrics of a run."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.latency: dict[str, list[float]] = defaultdict(list)  # op kind -> s
        self.by_op: dict[str, list[float]] = defaultdict(list)
        self.passes: list[float] = []
        self.layers: dict[str, dict[str, float]] = {}


def run_op(ctx: Ctx, op: Op, res: Result, tracer=None) -> float | None:
    """Run ``op`` once, check it and record the outcome; return its latency
    (None when it raised)."""
    res.attempted += 1
    layers = None
    try:
        if tracer is not None:
            tracer.begin()
        df = pdf = None
        build_s = fetch_s = 0.0
        t0 = time.perf_counter()
        if op.kind == "query":
            with _phase(tracer, "build"):
                df = op.build(ctx)
            t1 = time.perf_counter()
            with _phase(tracer, "fetch"):
                pdf = df.toPandas()
            end = time.perf_counter()
            build_s, fetch_s = t1 - t0, end - t1
        else:
            with _phase(tracer, "call"):
                out = op.call(ctx)
            end = time.perf_counter()
        latency = end - t0
        if tracer is not None:
            layers = tracer.finish(op.kind, end, df=df, build_s=build_s,
                                   fetch_s=fetch_s, rows=0 if pdf is None else len(pdf))
        result = query_result(pdf, df.dtypes) if op.kind == "query" else out
        problem = op.check(ctx, result)
    except Exception as exc:  # an operation's failure is counted, never fatal
        res.failures.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
        traceback.print_exc(file=sys.stderr)
        return None
    if problem is not None:
        res.failures.append(f"{op.name}: {problem}")
    res.latency[op.kind].append(latency)
    res.by_op[op.name].append(latency)
    if layers is not None:
        res.layers[op.name] = layers
    return latency


def _phase(tracer, name):
    return nullcontext() if tracer is None else tracer.phase(name)


def start_session(cores: int):
    from questdb_etl_jobs_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _pass(ctx: Ctx, ops: list[Op], res: Result, label: str,
          tracer=None) -> tuple[float, bool]:
    """Run ``ops`` in a new pass directory; return the summed latency and
    whether every op ran without raising."""
    ctx.pass_dir = new_pass_dir(ctx, label)
    total, complete = 0.0, True
    for op in ops:
        latency = run_op(ctx, op, res, tracer)
        if latency is None:
            complete = False
        else:
            total += latency
    return total, complete


def run(workload_name: str, seed: int, seconds: float, trace: bool, root: str,
        scale: float = 1.0) -> dict:
    workload = WORKLOADS[workload_name]
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = Result()
    try:
        with RssSampler() as rss:
            sf_dir = datagen.ensure_tables(os.path.join(base, "data"), scale)
            ctx = Ctx(spark=None, sf_dir=sf_dir, work=work, seed=seed, scale=scale)
            workload.prepare(ctx)

            t0 = time.perf_counter()
            ctx.spark = start_session(cores)
            session_s = time.perf_counter() - t0
            try:  # stop_session must run whatever happens from here on
                from questdb_etl_jobs_spark.sources.tables import load_table

                for t in workload.tables:
                    load_table(ctx.spark, sf_dir, t)
                warm = [op for op in workload.pass_ops(ctx, random.Random(0))
                        if op.name in workload.warmup]
                warm_res = Result()
                _pass(ctx, warm, warm_res, "warmup")
                res.attempted += warm_res.attempted
                res.failures += warm_res.failures
                setup_s = time.perf_counter() - t0

                rnd = random.Random(seed)
                if trace:
                    out = _traced(ctx, workload, rnd, res, cores, session_s)
                else:
                    # Whole passes only, so every run measures the same ops;
                    # a new pass starts while time is left.
                    deadline = time.perf_counter() + seconds
                    n = 0
                    while n == 0 or time.perf_counter() < deadline:
                        wall, complete = _pass(ctx, workload.pass_ops(ctx, rnd), res, f"pass{n}")
                        if complete:
                            res.passes.append(wall)
                        n += 1
                    out = {}
                env = {
                    "cores": cores,
                    "shuffle_partitions": int(ctx.spark.conf.get("spark.sql.shuffle.partitions")),
                    "spark": ctx.spark.version,
                    "python": sys.version.split()[0],
                }
            finally:
                stop_session(ctx.spark)
        if not trace:
            out = _end_to_end(workload, res, setup_s, rss.peak, ctx)
        return {"env": env, "metrics": out, "result": res, "workload": workload}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10)[-1]


def _end_to_end(workload, res: Result, setup_s: float, peak: int, ctx: Ctx) -> dict:
    ops = [x for lat in res.latency.values() for x in lat]
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "ok_ops_share": ((res.attempted - len(res.failures)) / res.attempted, "ratio"),
        "op_p50_s": (median(ops), "s"),
        "op_p90_s": (p90(ops), "s"),
        "pass_s": (median(res.passes), "s"),
    }
    q = res.latency["query"]
    own = {
        "query_p50_s": (median(q), "s"),
        "query_p90_s": (p90(q), "s"),
        "queries_per_s": (len(q) / sum(q) if q else 0.0, "1/s"),
        **workload.own_metrics(ctx, res),
    }
    return {"metrics": metrics, "own": own}


def _traced(ctx: Ctx, workload, rnd, res: Result, cores: int, session_s: float) -> dict:
    """Run one pass twice in lockstep, each in its own directory: every op
    once under the tracer and once without, alternating which goes first
    so that what one execution warms for the other cancels out. Report
    the traced pass's per-layer sums and its time over the untraced one."""
    from perfbench.tracer import LAYER_METRICS, Tracer

    ops = workload.pass_ops(ctx, rnd)
    dirs = {mode: new_pass_dir(ctx, mode) for mode in ("traced", "untraced")}
    tracer = Tracer(ctx.spark, cores)
    wall = {"traced": 0.0, "untraced": 0.0}
    for i, op in enumerate(ops):
        for mode in ("traced", "untraced") if i % 2 == 0 else ("untraced", "traced"):
            ctx.pass_dir = dirs[mode]
            if mode == "traced":
                tracer.install()
                try:
                    latency = run_op(ctx, op, res, tracer)
                finally:
                    tracer.uninstall()
            else:
                latency = run_op(ctx, op, res)
            wall[mode] += latency or 0.0
    totals = defaultdict(float)
    for layers in res.layers.values():
        for k, v in layers.items():
            totals[k] += v
    totals.update(workload.stored(ctx, dirs["traced"]))
    if totals["exec.wall_s"]:
        totals["exec.slot_util"] = totals["exec.executor_run_s"] / (totals["exec.wall_s"] * cores)
    totals["session.start_s"] = session_s
    totals["trace.overhead_share"] = (
        wall["traced"] / wall["untraced"] - 1 if wall["untraced"] else 0.0)
    return {
        "metrics": {k: (totals.get(k, 0.0), unit) for k, (unit, _) in LAYER_METRICS.items()},
        "own": {},
    }
