"""Tests of the benchmark itself: python -m pytest perfbench/tests -q

The smoke test starts one Spark session per workload and mode at scale
0.001, so the module takes a few minutes.
"""

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_inputs_are_deterministic():
    a = datagen.generate(7, 0.001)
    b = datagen.generate(7, 0.001)
    c = datagen.generate(8, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tile_requests_deterministic_and_inside_extent():
    first_order = dt.datetime(1995, 1, 1)
    last_order = first_order + dt.timedelta(days=datagen.ORDER_DAYS)
    last_month = workloads.month_start(workloads.SHIP_MONTHS - 1)
    for seed in range(20):
        for p in (-1, 0, 1, 2):
            reqs = workloads.tile_requests(seed, p)
            assert reqs == workloads.tile_requests(seed, p)
            assert [k for k, _ in reqs] == [
                workloads.TILE_KINDS[c] for c in workloads.TILE_PATTERN]
            for kind, req in reqs:
                assert first_order <= req["start"] <= req["stop"]
                if kind == "feature":
                    assert req["stop"] <= last_order
                    continue
                x1, y1, x2, y2 = req["bbox"]
                assert 0 <= x1 <= x2 < workloads.TILE_GRID
                assert 0 <= y1 <= y2 < workloads.TILE_GRID
                assert x2 - x1 + 1 == workloads.TILE_SIZE
                assert req["stop"] <= last_month
    assert workloads.tile_requests(1, 0) != workloads.tile_requests(2, 0)


def test_declared_metrics_match_the_code():
    assert set(PER_LAYER) == set(run.PER_LAYER)
    assert all(run.PER_LAYER[k] == u for k, u in PER_LAYER.items())
    fake = [{"wall": 1.0, "recs": [{"latency": 0.5}, {"latency": 0.5}]}]
    e2e = run.end_to_end(1.0, fake, [], 1e6)
    assert {k: u for k, (_, u) in e2e.items()} == END_TO_END


@pytest.fixture(scope="module")
def small_bench(tmp_path_factory):
    """A bench stand-in with DuckDB views over scale-0.001 inputs and the
    parity rules, enough to check tile outputs without Spark."""
    data = datagen.write(str(tmp_path_factory.mktemp("data")), 3, 0.001)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute("CREATE VIEW {} AS SELECT * FROM read_parquet({})"
                    .format(t, workloads.sql_str(
                        os.path.join(data, t + ".parquet"))))
    bench = run.Bench.__new__(run.Bench)
    bench.con = con
    bench.parity = workloads.load_parity_module(ROOT)
    bench.tracer = None
    bench.clock = time.monotonic
    yield bench
    con.close()


class _Workload:
    pass


def _feature_tile():
    kind, req = next((k, r) for k, r in workloads.tile_requests(5, 0)
                     if k == "feature")
    return workloads.TileOp(kind, req, graph=None)


def test_wrong_tile_is_a_failed_op(small_bench):
    op = _feature_tile()
    right = op.expected(small_bench)
    assert len(right) > 0
    wrong = right.copy()
    wrong.loc[0, "o_totalprice"] += 0.01
    recs = [{"op": op, "error": None, "result": right},
            {"op": op, "error": None, "result": wrong},
            {"op": op, "error": None, "result": right.iloc[1:]}]
    failures = run.check_outputs(small_bench, _Workload(), recs)
    assert [f[1] for f in failures] == [
        "1 values differ",
        "rows {} != expected {}".format(len(right) - 1, len(right))]
    # a feature tile is not the known kernel defect: the run is incorrect
    assert not any(known for _, _, known in failures)


def test_kernel_mismatch_is_the_known_defect(small_bench):
    op = _feature_tile()
    op.kind = workloads.KNOWN_DEFECT_KIND
    op.expected = lambda bench: pd.DataFrame({"v": [1.0]})
    rec = {"op": op, "error": None, "result": pd.DataFrame({"v": [2.0]})}
    (failure,) = run.check_outputs(small_bench, _Workload(), [rec])
    assert failure == ("kernel", "1 values differ", True)


def test_raising_op_is_recorded_not_raised(small_bench):
    class Boom(workloads.Op):
        def build(self, bench, block):
            raise ValueError("no plan")

    rec = small_bench.execute(Boom("boom", "core"), "0:0:boom")
    assert rec["error"] == "ValueError: no plan"
    rec["op"].check = lambda bench, result: None
    (failure,) = run.check_outputs(small_bench, _Workload(), [rec])
    assert failure == ("query", "ValueError: no plan", False)


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py")] + list(args),
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["tiles", "batch"])
def test_smoke_run(workload, trace):
    proc = _bench(ROOT, "--workload", workload, "--seed", "11",
                  "--seconds", "1", "--trace", str(trace),
                  "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    declared = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(str(tmp_path), "--workload", "tiles", "--seed", "1",
                  "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
