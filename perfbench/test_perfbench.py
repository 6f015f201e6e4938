"""Self-test of the benchmark, at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that the same seed gives the same generated inputs, and that each
workload passes its correctness check and prints every metric named in
BENCHMARK.json with its unit, in both the timed and the traced mode. The
workload runs take a few minutes: each starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lakehouse_txn  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_payloads_depend_only_on_seed_and_index():
    a, b = gen.PayloadGen(7, 50), gen.PayloadGen(7, 50)
    assert a.lines(3) == b.lines(3)
    assert a.lines(3) != a.lines(4)
    assert a.lines(3) != gen.PayloadGen(8, 50).lines(3)


def test_payload_mix():
    lines = [json.loads(x) for i in range(4) for x in gen.PayloadGen(1, 500).lines(i)]
    fields = [p for p in lines if "Fields" in p]
    op_data = [p for p in fields if "op" in p["Fields"]]
    assert 0.2 < len(op_data) / len(lines) < 0.3
    assert 0.45 < (len(fields) - len(op_data)) / len(lines) < 0.55
    text = "\n".join(json.dumps(p) for p in lines)
    assert text.count("$set") + text.count("$append") > 0.4 * len(lines)


def test_warehouse_tables_depend_only_on_seed():
    a, b = gen.warehouse_tables(5, 0.001), gen.warehouse_tables(5, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.warehouse_tables(6, 0.001)["lineitem"])


def test_lakehouse_inputs_depend_only_on_seed_and_cycle():
    assert lakehouse_txn.cycle_inputs(3, 2) == lakehouse_txn.cycle_inputs(3, 2)
    assert lakehouse_txn.cycle_inputs(3, 2) != lakehouse_txn.cycle_inputs(4, 2)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_prints_every_metric_and_is_correct(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=400, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    names = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the command must fail
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fxa_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=180, cwd=tmp_path, env=env,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
