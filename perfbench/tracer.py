"""Per-layer tracing from outside the engine.

Nothing under ``questdb_etl_jobs_spark/`` is edited. The tracer:

- wraps the public functions at each module boundary (``sources``,
  ``sql.dialect``, ``pipeline``, ``plans.designated``, ``streaming``) by
  rebinding every loaded module attribute that refers to them, and times
  the outermost call of each layer;
- counts py4j round trips by wrapping the gateway client's
  ``send_command``, leaving out py4j's object-release messages, whose
  number depends on when Python's garbage collector runs;
- tags each phase of an operation with its own Spark job group and reads
  the jobs and stages of that group from the local UI's REST API (stream
  jobs carry their query's run id as the group);
- reads Catalyst's phase times from the query's ``QueryPlanningTracker``
  and a stream's per-trigger phases from ``recentProgress``.

Counts that repeat exactly from run to run on the same inputs (checked
with two traced runs per workload): ``exec.jobs``, ``exec.stages``,
``exec.tasks``, ``operators.eager_jobs``, ``queries.py4j_calls``,
``sources.load_table_calls``, ``sql.dialect.calls``, ``fetch.rows``,
``pipeline.csv_scans``, ``pipeline.rows_loaded``,
``pipeline.rows_quarantined``, ``plans.designated.files`` and
``streaming.batches`` -- except that ``admit_batch`` on the mutations
batch ran 40 jobs in one run and 39 in the other. Times, byte counts and
state sizes do not repeat.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

#: (module, function, layer metric prefix).
WRAPPED = (
    ("questdb_etl_jobs_spark.sources.tables", "load_table", "sources.load_table"),
    ("questdb_etl_jobs_spark.sql", "questdb_sql", "sql.dialect.questdb_sql"),
    ("questdb_etl_jobs_spark.sql.dialect", "questdb_sql", "sql.dialect.questdb_sql"),
    ("questdb_etl_jobs_spark.pipeline", "run_batch", "pipeline.run_batch"),
    ("questdb_etl_jobs_spark.plans.designated", "write_designated_ts", "plans.designated.write"),
    ("questdb_etl_jobs_spark.plans.designated", "upsert_designated_ts", "plans.designated.write"),
    ("questdb_etl_jobs_spark.plans.designated", "read_designated_ts", "plans.designated.read"),
    ("questdb_etl_jobs_spark.streaming.file_stream", "run_stream_to_table", "streaming.start"),
)

#: Every per-layer metric: (unit, better), in report order.
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "sources.load_table_s": ("s", "lower"),
    "sources.load_table_calls": ("count", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.py4j_calls": ("count", "lower"),
    "sql.dialect.questdb_sql_s": ("s", "lower"),
    "sql.dialect.calls": ("count", "lower"),
    "operators.eager_s": ("s", "lower"),
    "operators.eager_jobs": ("count", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "exec.wall_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.slot_util": ("ratio", "higher"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "fetch.s": ("s", "lower"),
    "fetch.rows": ("count", "lower"),
    "pipeline.run_batch_s": ("s", "lower"),
    "pipeline.csv_scans": ("count", "lower"),
    "pipeline.rows_loaded": ("count", "higher"),
    "pipeline.rows_quarantined": ("count", "lower"),
    "plans.designated.write_s": ("s", "lower"),
    "plans.designated.read_s": ("s", "lower"),
    "plans.designated.files": ("count", "lower"),
    "plans.designated.bytes_per_input_byte": ("ratio", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.start_s": ("s", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.query_planning_s": ("s", "lower"),
    "streaming.latest_offset_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "streaming.idle_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}

_RELEASE = "m\nd\n"  # py4j protocol: MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def _iso_s(text: str) -> float:
    """Epoch seconds of a UI REST timestamp such as 2026-01-02T03:04:05.678GMT."""
    return datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Collects the per-layer metrics of the operations run under it."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.op: dict[str, float] = defaultdict(float)
        self.counting = False
        self.depth: dict[str, int] = defaultdict(int)
        self.streams: list = []
        self._patched: list[tuple[object, str, object]] = []
        self._seq = 0

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if self.counting and not command.startswith(_RELEASE):
                self.op["py4j"] += 1
            return send(command, *args, **kwargs)

        self._patched.append((client, "send_command", None))
        client.send_command = counted

        wrappers = {}  # id(original) -> wrapper
        for mod_name, fn_name, layer in WRAPPED:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            wrappers.setdefault(id(fn), self._wrap(fn, layer))
        for name, mod in list(sys.modules.items()):
            if mod is None or name.split(".")[0] not in (
                "questdb_etl_jobs_spark", "bench", "tools", "perfbench"
            ):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in wrappers:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrappers[id(value)])

    def uninstall(self) -> None:
        for obj, attr, value in reversed(self._patched):
            if value is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, value)
        self._patched.clear()

    def _wrap(self, fn, layer):
        tracer = self

        def traced(*args, **kwargs):
            tracer.depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.depth[layer] -= 1
                if tracer.depth[layer] == 0:
                    tracer.op[f"{layer}_s"] += time.perf_counter() - t0
                    tracer.op[f"{layer}_calls"] += 1
            if layer == "streaming.start":
                tracer.streams.append((time.perf_counter(), out))
            elif layer == "pipeline.run_batch" and out is not None:
                tracer.op["pipeline.rows_loaded"] += out.rows_loaded
                tracer.op["pipeline.rows_quarantined"] += out.rows_quarantined
            return out

        traced.__wrapped__ = fn
        return traced

    # -- per-operation ----------------------------------------------------

    @contextmanager
    def phase(self, name: str):
        """Run a phase of the current op under its own job group."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.groups[name] = group
        self.sc.setJobGroup(group, name)
        self.counting = name == "build"
        try:
            yield
        finally:
            self.counting = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def begin(self) -> None:
        self.op = defaultdict(float)
        self.streams = []
        self.groups: dict[str, str] = {}
        self.sql_before = self._sql_ids()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}{path}", timeout=30) as resp:
            return json.load(resp)

    def _sql_ids(self) -> set[int]:
        return {e["id"] for e in self._get("/sql?details=false&length=100000")}

    def finish(self, op_kind: str, end: float, df=None, build_s: float = 0.0,
               fetch_s: float = 0.0, rows: int = 0) -> dict[str, float]:
        """Close the current op, which returned at ``end`` (perf_counter),
        and return its per-layer metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        m = defaultdict(float)
        o = self.op
        m["sources.load_table_s"] = o["sources.load_table_s"]
        m["sources.load_table_calls"] = o["sources.load_table_calls"]
        m["sql.dialect.questdb_sql_s"] = o["sql.dialect.questdb_sql_s"]
        m["sql.dialect.calls"] = o["sql.dialect.questdb_sql_calls"]
        m["pipeline.run_batch_s"] = o["pipeline.run_batch_s"]
        m["pipeline.rows_loaded"] = o["pipeline.rows_loaded"]
        m["pipeline.rows_quarantined"] = o["pipeline.rows_quarantined"]
        m["plans.designated.write_s"] = o["plans.designated.write_s"]
        m["plans.designated.read_s"] = o["plans.designated.read_s"]
        m["streaming.start_s"] = o["streaming.start_s"]

        groups = set(self.groups.values()) | {
            str(q.runId) for _, queries in self.streams for q in queries
        }
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
        by_group = defaultdict(list)
        for j in jobs:
            by_group[j.get("jobGroup")].append(j)

        def spans(js):
            return [(_iso_s(j["submissionTime"]), _iso_s(j["completionTime"]))
                    for j in js if "completionTime" in j]

        build_jobs = by_group.get(self.groups.get("build"), [])
        eager_groups = [self.groups.get("build")]
        if op_kind == "admit":
            eager_groups.append(self.groups.get("call"))
        eager = [j for g in eager_groups for j in by_group.get(g, [])]
        m["operators.eager_jobs"] = len(eager)
        m["operators.eager_s"] = _union_s(spans(eager))
        if op_kind == "query":
            m["queries.build_s"] = max(0.0, build_s - _union_s(spans(build_jobs)))
            m["queries.py4j_calls"] = o["py4j"]
            m["fetch.s"] = fetch_s
            m["fetch.rows"] = rows
            if df is not None:
                phases = df._jdf.queryExecution().tracker().phases()
                for name in ("analysis", "optimization", "planning"):
                    if phases.contains(name):
                        m[f"catalyst.{name}_s"] = phases.apply(name).durationMs() / 1000

        m["exec.jobs"] = len(jobs)
        m["exec.wall_s"] = _union_s(spans(jobs))
        for j in jobs:
            for sid in j["stageIds"]:
                for attempt in self._get(f"/stages/{sid}?details=false"):
                    if attempt["status"] == "SKIPPED":
                        continue
                    m["exec.stages"] += 1
                    m["exec.tasks"] += attempt["numCompleteTasks"] + attempt["numFailedTasks"]
                    m["exec.failed_tasks"] += attempt["numFailedTasks"]
                    m["exec.executor_run_s"] += attempt["executorRunTime"] / 1000
                    m["exec.executor_cpu_s"] += attempt["executorCpuTime"] / 1e9
                    m["exec.shuffle_write_bytes"] += attempt["shuffleWriteBytes"]
                    m["exec.spill_bytes"] += (attempt["memoryBytesSpilled"]
                                              + attempt["diskBytesSpilled"])
        if m["exec.wall_s"] > 0:
            m["exec.slot_util"] = m["exec.executor_run_s"] / (m["exec.wall_s"] * self.cores)

        if op_kind == "load":
            for e in self._get("/sql?details=true&planDescription=false&length=100000"):
                if e["id"] in self.sql_before:
                    continue
                m["pipeline.csv_scans"] += sum(
                    1 for n in e.get("nodes", []) if n["nodeName"].startswith("Scan csv")
                )

        for started, queries in self.streams:
            awaited = end - started
            longest = 0.0
            for q in queries:
                progress = q.recentProgress
                m["streaming.batches"] += len(progress)
                trigger = 0.0
                for p in progress:
                    d = p.get("durationMs", {})
                    trigger += d.get("triggerExecution", 0) / 1000
                    m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
                    m["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000
                    m["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1000
                    m["streaming.commit_s"] += (d.get("walCommit", 0)
                                                + d.get("commitOffsets", 0)) / 1000
                    for s in p.get("stateOperators", []):
                        m["streaming.state_rows"] = max(m["streaming.state_rows"],
                                                        s.get("numRowsTotal", 0))
                        m["streaming.state_mem_bytes"] = max(
                            m["streaming.state_mem_bytes"], s.get("memoryUsedBytes", 0))
                m["streaming.trigger_s"] += trigger
                longest = max(longest, trigger)
            m["streaming.idle_s"] += max(0.0, awaited - longest)
        return dict(m)
