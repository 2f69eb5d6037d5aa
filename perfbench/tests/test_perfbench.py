"""Self-tests of the benchmark (not of the program it measures).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests run ``perfbench/run.py`` in the benchmark's own
configuration (the sf0.001 registry tables, the 2,000-row EDA fixture) and
take about five minutes in total.
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
from resulthash import canon, hash_pandas, hash_rows  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, trace: int, *extra: str, seed: int = 5) -> tuple[dict, dict]:
    """Run one smoke benchmark; returns (result line, record line)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
         "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench_record"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric_with_unit(workload, trace):
    result, record = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, record["failures"]
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    for key in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "PYTHONPATH"):
        assert record["env"][key]
    assert record["source_sha256"]
    if trace:
        for path in record["trace_files"]:
            assert os.path.getsize(path) > 0
        with open(record["trace_files"][0]) as fh:
            spans = json.load(fh)
        assert {"op", "builder", "plan", "collect"} <= {s["name"] for s in spans} or (
            workload == "eda_pipeline" and "pipeline.whale" in {s["name"] for s in spans}
        )


def test_injected_wrong_hash_raises_error_rate():
    name = harness.REGISTRY_OPS[0]
    result, record = run_bench("registry", 0, "--inject-wrong-hash", name)
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert record["error_rate"] > 0
    assert record["failing_ops"] == [name]


def test_registry_tables_match_their_checksums(tmp_path):
    harness.check_registry_data()
    bad = tmp_path / "sf"
    shutil.copytree(harness.REGISTRY_DATA, bad)
    with open(bad / "events.parquet", "ab") as fh:
        fh.write(b"x")
    with pytest.raises(RuntimeError):
        harness.check_registry_data(str(bad))


def test_seed_changes_eda_fixture(tmp_path):
    from datafusion_cyberpolka_eda_spark.pipeline.fixtures import generate_eda_fixture

    pa = generate_eda_fixture(str(tmp_path / "a"), n_train=200, n_test=80, seed=1)
    pb = generate_eda_fixture(str(tmp_path / "b"), n_train=200, n_test=80, seed=2)
    assert not filecmp.cmp(pa["train_main_features"], pb["train_main_features"], shallow=False)


def test_seed_changes_op_order():
    def orders(seed):
        rng = random.Random(seed)
        return [harness.pass_order(harness.REGISTRY_OPS, rng) for _ in range(3)]

    assert orders(1) == orders(1)
    assert orders(1) != orders(2)
    assert sorted(orders(1)[0]) == sorted(harness.REGISTRY_OPS)


def test_hash_is_order_insensitive_and_engine_neutral():
    import numpy as np
    import pandas as pd

    rows = [(1, 2.5, None, "x"), (2, 3.0, float("nan"), "y")]
    assert hash_rows(["a", "b", "c", "d"], rows) == hash_rows(["a", "b", "c", "d"], rows[::-1])
    # column order is irrelevant; an integral float equals the int
    df = pd.DataFrame({"d": ["y", "x"], "c": [np.nan, np.nan], "b": [3, 2.5], "a": [2.0, 1.0]})
    assert hash_pandas(df) == hash_rows(["a", "b", "c", "d"], rows)
    assert canon(-0.0) != canon(0.0)
    assert canon(0.1) != canon(0.1 + 2**-56)
