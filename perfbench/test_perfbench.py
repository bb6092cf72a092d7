"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The smoke, traced and corruption tests start Spark (one to two minutes
each); the digest test runs the two slow DuckDB oracles. All are marked
``slow``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracles  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args: str, cwd: str = ROOT, pre: str = "") -> subprocess.CompletedProcess:
    """Run the benchmark in a fresh interpreter, optionally after ``pre``."""
    code = (
        "import sys, runpy; sys.argv = ['perfbench/run.py', *sys.argv[1:]];"
        f"sys.path.insert(0, 'perfbench'); {pre}\n"
        "runpy.run_path('perfbench/run.py', run_name='__main__')"
    )
    return subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# fast: no Spark
# ---------------------------------------------------------------------------


def test_spec_matches_code():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == workloads.per_layer_units()
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    for w in SPEC["workloads"]:
        assert run.parse_args(["--workload", w["name"], "--seed", "1", "--seconds", "1"])
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s"
    )


def test_self_time_subtracts_children():
    tr = Tracer("t")
    tr.enabled = True
    tr.spans = [
        {"id": 0, "name": "p", "layer": "plans", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "layer": "spark", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "layer": "spark", "start": 3.0, "end": 6.0, "parent": 0},
    ]
    got = tr.self_seconds()
    assert got["plans"] == pytest.approx(5.0)  # 10 - union([1,4],[3,6])
    assert got["spark"] == pytest.approx(6.0)


def test_simulate_crash_drops_half(tmp_path):
    d = tmp_path / "out"
    d.mkdir()
    pq.write_table(pa.table({"part_id": list(range(9))}), str(d / "_manifest.parquet"))
    kept = workloads.simulate_crash(str(d), np.random.default_rng(0))
    assert kept == 5
    assert pq.read_table(str(d / "_manifest.parquet")).num_rows == 5


def test_dropped_pip_pair_is_a_mismatch():
    sample = pq.read_table(os.path.join(ROOT, "fixtures_data", "expected_pip.parquet"))
    pairs = sample.to_pandas().head(50)
    g = oracles.ImageGoldens([])
    g.pip = set(pairs.itertuples(index=False, name=None))
    assert g.check_pip(pairs)
    assert not g.check_pip(pairs.iloc[1:])


def test_phash_oracle_counts_near_pairs():
    dec = pd.DataFrame(
        {
            "image_id": ["a", "b", "c", "d"],
            "phash_decoded": [0, 0b111, 0, -1],
            "decode_ok": [True, True, True, True],
        }
    )
    # class representatives: 0 -> "a" (a and c share it), 7 -> "b", -1 -> "d"
    assert oracles.phash_pairs_oracle(dec) == {("a", "b")}


def test_refuses_without_the_engine(tmp_path):
    bare = tmp_path / "bare"
    bare.mkdir()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), bare / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "contract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


# ---------------------------------------------------------------------------
# slow: Spark runs
# ---------------------------------------------------------------------------


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    proc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", "0", "--rows", "300")
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for name, unit in workloads.END_TO_END.items():
        m = res["metrics"][name]
        assert m["unit"] == unit and m["value"] > 0
        assert f"perfbench {workload} {name} = " in proc.stdout
    if workload == "images":
        assert "perfbench images images_per_s = " in proc.stdout
    assert f"perfbench {workload} error_rate = 0 ratio" in proc.stdout


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_prints_every_per_layer_metric(workload):
    proc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", "1", "--rows", "300")
    res = _result(proc)
    assert res["correct"]
    units = workloads.per_layer_units()
    assert {k: m["unit"] for k, m in res["metrics"].items()} == units
    value = {k: m["value"] for k, m in res["metrics"].items()}
    assert value["trace.self_s.session"] > 0 and value["trace.self_s.spark"] > 0
    if workload == "images":
        assert value["plans.checkpoint.parts_skipped"] > 0
        assert value["operators.mosaic_s"] > 0
        assert "perfbench images resume_wall_s = " in proc.stdout
    else:
        assert value["query.q_minhash_pairs_s"] > 0


@pytest.mark.slow
def test_dropped_pip_pair_raises_error_rate(tmp_path):
    """Drop one PIP pair the oracle expects: the run must count it."""
    import inputs

    sample = inputs.image_sample(5, 300, str(tmp_path / "s.parquet"))
    gold = oracles.ImageGoldens(sample.column("image_id").to_pylist())
    image_id, feature_id = sorted(gold.pip)[0]
    pre = (
        "from pyspark.sql import functions as F\n"
        "import gjspark.operators.spatial_join as SJ\n"
        "orig = SJ.pip_join\n"
        "def pip_join(*a, **k):\n"
        f"    return orig(*a, **k).filter(~((F.col('image_id') == {image_id!r})"
        f" & (F.col('feature_id') == {feature_id!r})))\n"
        "SJ.pip_join = pip_join\n"
    )
    proc = _run("--workload", "images", "--seed", "5", "--seconds", "1",
                "--trace", "0", "--rows", "300", pre=f"sys.path.insert(0, '.')\n{pre}")
    res = _result(proc)
    assert res["failed"] >= 1 and not res["correct"]
    rate = float(proc.stdout.split("error_rate = ")[1].split()[0])
    assert rate > 0


@pytest.mark.slow
def test_committed_contract_digests_match_duckdb():
    import inputs

    sys.path.insert(0, ROOT)
    live = oracles.contract_digests(
        inputs.CONTRACT_TABLES, inputs.contract_tables(), workloads.CONTRACT_QUERIES
    )
    assert live == oracles.ContractOracle().expected
