"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root. The generator and schedule tests need no
Spark; the output-check tests start one local session; the smoke tests run
``perfbench/run.py`` once per workload and trace mode, about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import gen, smt  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


# ------------------------------------------------------------ generators

def test_smt_inputs_are_a_function_of_the_seed():
    def files(seed):
        return smt.split_files(gen.smt_block(seed, 3000), 3)

    assert files(7) == files(7)
    assert all(a != b for a, b in zip(files(7), files(8)))


def test_registry_tables_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.registry_tables(seed, str(tmp_path / name), sf=0.001)
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert all(a[t] != c[t] for t in a if t not in ("region.parquet", "nation.parquet"))


def test_steady_median_leaves_out_stolen_samples():
    from perfbench import common

    assert common.steady_median([1, 2, 9, 3, 8], [0, 0, 1, 0, 1], 0.25) == 2
    # Fewer than three clean samples: the three least stolen.
    assert common.steady_median([1, 9, 8, 7], [0, 2, 1, 3], 0.25) == 8


# ---------------------------------------------------------- output checks

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run

    work = str(tmp_path_factory.mktemp("spark"))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.path.join(ROOT, "tools")])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    session = run.start_session(work, cpus=2)
    yield session
    session.stop()


def test_smt_check_accepts_the_chain_and_rejects_a_corrupted_model(spark, tmp_path):
    block = smt.stage_drain(9, str(tmp_path / "in"), 2, records=400)
    smt.drain_once(spark, str(tmp_path / "in" / "backlog"), str(tmp_path / "out"), 2)
    sink = str(tmp_path / "out" / "sink")
    assert smt.check_sink(sink, block, block["offset"]) == (400, 0)
    corrupted = {k: v.copy() for k, v in block.items()}
    corrupted["user"][::7] += 1
    checked, wrong = smt.check_sink(sink, corrupted, block["offset"])
    assert checked == 400 and wrong == len(range(0, 400, 7))
    short = {k: v[:-1] for k, v in block.items()}
    assert smt.check_sink(sink, short, short["offset"])[1] > 0


def test_registry_check_rejects_a_corrupted_oracle(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry
    from perfbench import registry

    data = str(tmp_path / "sf")
    gen.registry_tables(3, data, sf=0.001)
    names = ("smt_drop_struct", "q1_pricing_summary")
    results = {n: entry.queries()[n](spark, data).toPandas() for n in names}
    assert registry.check_rows(data, results) == 0
    real = entry.oracle_sql()
    bad = dict(real, q1_pricing_summary=f"select * from ({real['q1_pricing_summary']}) limit 1")
    monkeypatch.setattr(entry, "oracle_sql", lambda: bad)
    assert registry.check_rows(data, results) == 1


# ------------------------------------------------------------------ smoke

def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark()["workloads"]])
def test_smoke_run_prints_every_metric(workload, trace):
    bench = _benchmark()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_outside_a_checkout_it_fails_without_a_result(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "smt_drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
