"""The benchmark's own tests: each workload end to end on tiny inputs.

    python -m pytest perfbench/tests -q

Every run goes through ``perfbench/run.py`` in a subprocess, as the
benchmark is run for real, and starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.checks import approx_equal, digest, python_rows  # noqa: E402
from perfbench.tracer import LAYER_METRICS, _union_s  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

TINY = ["--seed", "3", "--seconds", "0", "--scale", "0.01"]


def _run(args: list[str], code: str | None = None) -> tuple[dict, dict]:
    """Run the benchmark; ``code`` runs first in the same interpreter (to
    plant a wrong expected value). Returns (report, result)."""
    if code is None:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args]
    else:
        cmd = [sys.executable, "-c",
               f"import sys; sys.path.insert(0, {ROOT!r})\n{code}\n"
               f"from perfbench.run import main; sys.exit(main({args!r}))"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd="/")
    assert out.returncode == 0, out.stderr[-3000:]
    report, result = (json.loads(line) for line in out.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return report, result


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", ["console_mix", "llm_curation", "hourly_ingest"])
def test_workload_emits_every_end_to_end_metric(workload):
    report, result = _run(["--workload", workload, *TINY, "--trace", "0"])
    assert result["failed"] == 0, report["failures"]
    assert result["correct"] and result["attempted"] > 0
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["metrics"]["ok_ops_share"]["value"] == 1.0
    assert report["env"]["cores"] >= 1 and report["env"]["spark"]


@pytest.mark.parametrize("workload", ["console_mix", "hourly_ingest"])
def test_traced_run_emits_every_per_layer_metric(workload):
    report, result = _run(["--workload", workload, *TINY, "--trace", "1"])
    assert result["failed"] == 0, report["failures"]
    _assert_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.start_s"] > 0 and m["exec.jobs"] > 0 and m["queries.py4j_calls"] > 0
    assert m["sql.dialect.calls"] > 0
    if workload == "hourly_ingest":
        assert m["pipeline.csv_scans"] > 0 and m["streaming.batches"] > 0
        assert m["plans.designated.files"] > 0
    assert set(report["layers_per_op"]) == set(report["ops_s"])


def test_wrong_expected_value_counts_as_failed_op():
    plant = (
        "from perfbench import datagen\n"
        "real = datagen.write_hourly_exports\n"
        "def wrong(*a, **k):\n"
        "    out = real(*a, **k)\n"
        "    out['files'][1]['good'] += 1\n"
        "    return out\n"
        "datagen.write_hourly_exports = wrong\n"
    )
    report, result = _run(["--workload", "hourly_ingest", *TINY, "--trace", "0"], plant)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any(f.startswith("load_1:") for f in report["failures"])
    ok = result["metrics"]["ok_ops_share"]["value"]
    assert ok == (result["attempted"] - result["failed"]) / result["attempted"] < 1


def test_fails_without_the_engine(tmp_path):
    for name in ("BENCHMARK.json", "perfbench"):
        src = os.path.join(ROOT, name)
        dst = tmp_path / name
        if os.path.isdir(src):
            subprocess.run(["cp", "-r", src, str(dst)], check=True)
        else:
            subprocess.run(["cp", src, str(dst)], check=True)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hourly_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path,
    )
    assert out.returncode != 0
    assert out.stdout == ""


def test_spec_lists_the_harness_metrics():
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} == LAYER_METRICS
    assert [w["name"] for w in SPEC["workloads"]] == ["llm_curation", "hourly_ingest"]


def test_canonical_rows_match_collect_types():
    import pandas as pd

    pdf = pd.DataFrame({
        "n": [1.0, float("nan")],
        "x": [0.5, float("nan")],
        "ts": pd.to_datetime(["2024-01-01 00:00:00.000001", None]),
        "v": [[1, 2], [3]],
    })
    rows = python_rows(pdf, [("n", "bigint"), ("x", "double"), ("ts", "timestamp"),
                             ("v", "array<int>")])
    assert rows[0][0] == 1 and isinstance(rows[0][0], int)
    assert rows[1][:3] == (None, None, None)
    assert rows[0][2].microsecond == 1 and rows[0][3] == [1, 2]
    assert digest(["a"], [(1,), (2,)]) == digest(["a"], [(2,), (1,)])


def test_approx_equal_tolerates_summation_order_only():
    assert approx_equal([("0.30000000000000004", "a")], [("0.3", "a")])
    assert not approx_equal([("0.31", "a")], [("0.3", "a")])
    assert not approx_equal([("0.3", "a")], [("0.3", "b")])


def test_union_of_job_spans():
    assert _union_s([(0, 2), (1, 3), (5, 6)]) == 4
