"""Benchmark entry point.

    python3 perfbench/run.py --workload console_mix --seed 1 --seconds 15 --trace 0

Runs one workload from BENCHMARK.json against the engine in the checkout
that holds this file, from any working directory. Everything it writes
goes under ``.perfbench/`` at the checkout root: the generated tables
(built on the first run and reused), the run's inputs and Spark's scratch
space. The second-to-last stdout line is a report (environment, inputs,
per-operation times, per-operation layer metrics when traced, failures);
the last line is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exit status 2 means the engine is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(base: str) -> None:
    """Point every scratch location at ``base`` before Spark or tempfile
    read them; make the engine importable by Spark's Python workers."""
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # A bounded JVM heap, committed and touched at start, keeps the
    # machine's memory free for others and the peak RSS independent of how
    # far the garbage collector happens to let the heap grow.
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # No hsperfdata files in the system temp dir, from the launcher JVM
    # (spark-class) or the Spark JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(base, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{heap} -XX:+AlwaysPreTouch'",
        "pyspark-shell",
    ])
    os.chdir(base)


def _finite(v: float) -> float:
    return v if math.isfinite(v) else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("console_mix", "llm_curation", "hourly_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink the generated inputs (the benchmark's own tests)")
    args = ap.parse_args(argv)

    # Put the checkout, not this script's directory, first on the path.
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import bench  # noqa: F401  (the entry map the workloads reuse)
        import questdb_etl_jobs_spark  # noqa: F401
        import tools.verify_local  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    _environment(os.path.join(ROOT, ".perfbench"))

    from perfbench.harness import run

    out = run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, args.scale)
    res, workload = out["result"], out["workload"]
    metrics = {k: {"value": _finite(v), "unit": u} for k, (v, u) in out["metrics"]["metrics"].items()}
    report = {
        "workload": workload.name,
        "why": workload.why,
        "inputs": workload.sizes,
        "seed": args.seed,
        "trace": args.trace,
        "env": out["env"],
        "workload_metrics": {k: {"value": v, "unit": u}
                             for k, (v, u) in out["metrics"]["own"].items()},
        "passes_s": [round(p, 4) for p in res.passes],
        "ops_s": {k: [round(x, 4) for x in v] for k, v in res.by_op.items()},
        "layers_per_op": res.layers,
        "failures": res.failures,
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
